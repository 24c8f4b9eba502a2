package graft.pg

import graft.meta.TableMeta

/** Serial-sequence synchronization (reference op R10).
  *
  * The reference does this entirely server-side in PL/pgSQL loops over
  * pg_tables (after-running-script.sql:1-126). Engine form: the MAX of
  * each serial column is observed on the copy's own write action
  * (`Transfer.migrate`), so no second scan or aggregate job runs, and
  * one setval statement per serial column is emitted from it.
  * The empty-table edge case uses the COALESCE(max,0)+1,false form the
  * reference's hardened third block adopts
  * (after-running-script.sql:99-103) — plain setval(seq, 0) would throw
  * because 0 is below the sequence minimum.
  */
object SequenceSync {

  /** The setval statement for one serial column. Mirrors
    * after-running-script.sql:99-103: for an empty table (`maxVal` < 1),
    * set the sequence to 1 with is_called=false so nextval yields 1. */
  def setvalSql(t: TableMeta, column: String, maxVal: Long): String = {
    val qualified = t.schema.fold(PgDdl.quote(t.name))(s =>
      s"${PgDdl.quote(s)}.${PgDdl.quote(t.name)}")
    // the identifiers are embedded in SQL STRING literals here — escape
    // apostrophes or a table named o'brien breaks the statement
    def sq(s: String) = s.replace("'", "''")
    val seq = s"pg_get_serial_sequence('${sq(qualified)}', '${sq(column)}')"
    if (maxVal >= 1) s"SELECT setval($seq, $maxVal, true)"
    else s"SELECT setval($seq, 1, false)"
  }
}
