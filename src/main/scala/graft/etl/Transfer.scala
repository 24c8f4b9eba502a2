package graft.etl

import java.sql.Connection
import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutorService, Executors}
import scala.util.control.NonFatal
import graft.meta.TableMeta
import graft.pg.{PgCatalog, PgDdl, SequenceSync}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bulk table transfer (reference ops R3–R6, R11) — the reference's
  * core capability, re-expressed Spark-first.
  *
  * The reference reads each table with unordered OFFSET/LIMIT pages
  * (transfer_data_script.py:107-114) — O(R²/C) server work and rows can
  * be duplicated/dropped between pages — and writes one INSERT round
  * trip per row (:121-126). Here: a range-partitioned JDBC scan
  * (deterministic, one pass, N parallel readers) and Spark's batched
  * JDBC writer (`batchsize` rows per round trip, one writer per
  * partition). At cluster scale both sides parallelize with the
  * executor count; the database becomes the bottleneck, not the engine.
  * The reference also copies one table after another; [[migrate]]
  * copies the tables in parallel. Writer connections stay bounded by
  * executor cores, and the driver adds at most one publish connection
  * per concurrent copy.
  *
  * Transactionality (SURVEY.md §7 risk 2): the reference commits per
  * table and can roll back (:136,141-143); Spark JDBC commits per
  * partition. [[atomicLoad]] restores all-or-nothing per table by
  * writing to a staging table of its own and publishing with a single
  * INSERT..SELECT transaction on the driver.
  */
object Transfer {

  final case class TransferResult(table: String, rows: Long, ok: Boolean,
      error: Option[String] = None)

  /** R3 replacement: deterministic parallel range scan. */
  def readJdbcPartitioned(spark: SparkSession, url: String, table: String,
      partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int, props: Properties): DataFrame =
    spark.read.jdbc(url, table, partitionColumn, lowerBound, upperBound,
      numPartitions, props)

  /** Single-partition read for small tables (still one pass, no OFFSET). */
  def readJdbc(spark: SparkSession, url: String, table: String,
      props: Properties): DataFrame =
    spark.read.jdbc(url, table, props)

  /** R5 replacement: batched append, one writer per partition.
    * batchsize=1000 matches the reference's chunk_size so measured
    * speedup is batching+parallelism, not bigger pages (BASELINE.md). */
  def writeJdbc(df: DataFrame, url: String, table: String,
      props: Properties): Unit =
    df.write.mode(SaveMode.Append)
      .option("batchsize", "1000")
      .jdbc(url, table, props)

  /** All-or-nothing publish: batched write into a staging table this
    * call owns (`<target>_staging_<random id>`, unique per call), then a
    * single transactional INSERT INTO target. The staging write can
    * retry/fail freely; the target only ever sees zero or all rows. The
    * staging table is dropped on success and on failure, and no other
    * table is ever dropped — so a `<target>_staging` that belongs to
    * someone else survives, and concurrent loads of different targets
    * never share a staging table. */
  def atomicLoad(df: DataFrame, url: String, targetTable: String,
      props: Properties, connFactory: () => Connection): Unit = {
    // a pre-quoted target ("t", the convention for Spark-created
    // case-sensitive names) gets the suffix INSIDE the quotes. A fresh
    // name also means partial rows a failed earlier run left in its own
    // staging table can never be published by this one.
    val suffix = "_staging_" + java.util.UUID.randomUUID().toString.take(8)
    val staging =
      if (targetTable.endsWith("\"")) targetTable.dropRight(1) + suffix + "\""
      else targetTable + suffix
    try {
      writeJdbc(df, url, staging, props)
      publish(df, targetTable, staging, connFactory)
    } finally {
      // the table is absent when the write failed before creating it
      try {
        val c = connFactory()
        try c.createStatement().executeUpdate(s"DROP TABLE $staging")
        finally c.close()
      } catch { case NonFatal(_) => () }
    }
  }

  /** One transaction: INSERT INTO target SELECT the staging rows. */
  private def publish(df: DataFrame, targetTable: String, staging: String,
      connFactory: () => Connection): Unit = {
    val conn = connFactory()
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      // Explicit column list on both sides: SELECT * is positional, so
      // a target whose DDL order differs from the DataFrame's would
      // mis-load columns (or fail) after the staging write succeeded.
      // Quoting: Spark's JDBC writer creates the STAGING table with
      // QUOTED (case-preserved) column names, so the SELECT side
      // quotes the DataFrame names verbatim. The TARGET may have been
      // created by anyone (unquoted DDL → database-case-normalized, or
      // a previous Spark write → quoted as-is), so its names are
      // resolved case-insensitively from the table's own metadata and
      // quoted exactly as stored — both conventions publish correctly.
      def q(n: String) = "\"" + n.replace("\"", "\"\"") + "\""
      val md = conn.getMetaData
      // metadata lookups take LIKE patterns: escape `_` and `%` so a name
      // matches only itself. A driver without an escape string (Derby)
      // gets the name as is, so the rows are also kept only on an exact
      // table (and schema) match.
      val esc = md.getSearchStringEscape
      def like(n: String) =
        if (esc == null || esc.isEmpty) n
        else n.replace(esc, esc + esc).replace("_", esc + "_")
          .replace("%", esc + "%")
      def columnsOf(schema: Option[String], table: String): Map[String, String] = {
        val m = scala.collection.mutable.Map.empty[String, String]
        val crs = md.getColumns(null, schema.map(like).orNull, like(table), "%")
        while (crs.next()) if (crs.getString("TABLE_NAME") == table &&
            schema.forall(_ == crs.getString("TABLE_SCHEM"))) {
          val n = crs.getString("COLUMN_NAME")
          m(n.toLowerCase) = n
        }
        crs.close()
        m.toMap
      }
      // metadata lookup is case-sensitive while SQL references
      // case-normalize — try the names as given, then both foldings
      // (a Spark-created table stores an UNQUOTED normalized table
      // name but QUOTED case-preserved column names). The schema of a
      // qualified target restricts the lookup: a same-named table in
      // another schema must not lend its columns.
      val parts = targetTable.split('.').map(_.stripPrefix("\"").stripSuffix("\""))
      val (schema, tableOnly) = (parts.init.lastOption, parts.last)
      val stored = Seq[String => String](identity, _.toUpperCase, _.toLowerCase)
        .view.map(f => columnsOf(schema.map(f), f(tableOnly)))
        .find(_.nonEmpty).getOrElse(Map.empty)
      // metadata miss (exotic qualified name): keep the pre-round-2
      // unquoted pass-through rather than guessing a quoting
      val targetCols =
        if (stored.isEmpty) df.schema.fieldNames.mkString(", ")
        else df.schema.fieldNames
          .map(n => q(stored.getOrElse(n.toLowerCase, n))).mkString(", ")
      val stagingCols = df.schema.fieldNames.map(q).mkString(", ")
      st.executeUpdate(
        s"INSERT INTO $targetTable ($targetCols) SELECT $stagingCols FROM $staging")
      conn.commit()
    } catch {
      case NonFatal(e) => conn.rollback(); throw e
    } finally conn.close()
  }

  /** Oracle-checked round-trip checksum (the reference's implied
    * source/target-equivalence oracle, SURVEY.md §5): transfer the
    * fact table through a partitioned write + read-back, then compute
    * a multiset checksum that must equal the same checksum computed
    * directly on the source. */
  def roundTripChecksum(spark: SparkSession, dir: String): DataFrame =
    roundTripChecksum(spark, dir,
      sys.env.getOrElse("SPARK_GRAFT_STAGING_DIR", sys.props("java.io.tmpdir")))

  /** Staging-root-parameterized form: `stagingRoot` may be any
    * Hadoop-FS path (local tmp by default; a distributed FS on a
    * cluster, where /tmp of one node is not visible to executors).
    * Cleanup goes through the Hadoop FileSystem API so both work. */
  def roundTripChecksum(spark: SparkSession, dir: String,
      stagingRoot: String): DataFrame = {
    val src = graft.Tables.lineitem(spark, dir)
    val tmp = s"$stagingRoot/graft_rt_${java.util.UUID.randomUUID().toString.take(8)}"
    src.repartition(8).write.mode(SaveMode.Overwrite).parquet(tmp)
    // materialize the checksum BEFORE deleting the staged copy (the
    // returned plan must not depend on the temp files), then clean up —
    // otherwise every Verify/Bench/Explain run leaks a full copy of the
    // fact table under the staging root
    val rows = spark.read.parquet(tmp).agg(
      count(lit(1)).as("n_rows"),
      sum(col("l_orderkey")).as("sum_okey"),
      sum(col("l_partkey") + col("l_suppkey")).as("sum_keys"),
      graft.ops.Det.exactSum(col("l_extendedprice")).as("sum_price"))
    val (schema, collected) = (rows.schema, rows.collect().toSeq)
    val p = new org.apache.hadoop.fs.Path(tmp)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(collected.asJava, schema)
  }

  /** Keyed upsert (SCD-1 merge): updates override matching target rows
    * by key, unmatched updates insert, unmatched target rows carry
    * over — MERGE semantics expressed as one full outer join with an
    * update-presence marker (so an update that explicitly sets a
    * column NULL still wins). Both sides must share the schema. One
    * shuffle on the key; at scale the key partitioning carries into
    * the output write, and a small update batch broadcasts.
    *
    * Like SQL MERGE, the updates must be key-unique — duplicates would
    * silently fan out matched target rows, so the call fails fast with
    * one aggregation over the (small) update batch. */
  def mergeUpsert(target: DataFrame, updates: DataFrame,
      key: String): DataFrame = {
    val dup = updates.groupBy(col(key))
      .count().filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"mergeUpsert: updates contain duplicate rows for key " +
        s"${dup.head.get(0)} — MERGE requires key-unique updates")
    val dataCols = target.columns.filterNot(_ == key)
    val u = dataCols.foldLeft(updates) { (df, c) =>
      df.withColumnRenamed(c, s"__u_$c")
    }.withColumn("__u_present", lit(true))
    val joined = target.join(u, Seq(key), "full_outer")
    // a presence MARKER (not value-coalesce) decides the winner, so an
    // update that explicitly sets a column NULL still wins on a
    // matched row
    val updatePresent = coalesce(col("__u_present"), lit(false))
    joined.select(col(key) +: dataCols.map(c =>
      when(updatePresent, col(s"__u_$c")).otherwise(col(c)).as(c)): _*)
  }

  /** Query entry: upsert the mod-3 customer-key slice of orders (with
    * a recomputed price) into the mod-2 slice — overlapping key sets,
    * so matched-override, insert, and carry-over paths all execute. */
  def upsertQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables
    val base = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val target = base.filter(col("o_custkey") % 2 === 0)
    val updates = base.filter(col("o_custkey") % 3 === 0)
      .withColumn("o_totalprice", round(col("o_totalprice") * 2, 2))
    mergeUpsert(target, updates, "o_orderkey")
      .orderBy("o_orderkey", "o_custkey", "o_totalprice")
  }

  /** SCD-2 history build from a change log: one output row per
    * attribute *change* per key, with [valid_from, valid_to) validity
    * and an is_current marker on the open row — the history-preserving
    * half of the MERGE surface (q68/[[mergeUpsert]] is the overwrite
    * half). Rows are ordered within a key by (ts, tieBreak) so change
    * detection is deterministic even when a key has several changes at
    * one timestamp; consecutive duplicates (no attribute change) are
    * collapsed. Null-safe comparison (`<=>`) means an attribute
    * flipping to NULL still opens a new version.
    *
    * Scale shape: one shuffle on the key; both windows share the
    * (partitionBy, orderBy) so Catalyst plans a single Exchange+Sort
    * feeding two Window nodes — linear per partition, no join. */
  def scd2FromChangeLog(changes: DataFrame, key: String, ts: String,
      tieBreak: String, attrs: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tieBreak))
    val attrStruct = struct(attrs.map(col): _*)
    changes
      .withColumn("__prev", lag(attrStruct, 1).over(w))
      .filter(col("__prev").isNull || !(col("__prev") <=> attrStruct))
      .withColumn("valid_from", col(ts))
      .withColumn("valid_to", lead(col(ts), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col(key) +: attrs.map(col) :+ col("valid_from") :+
        col("valid_to") :+ col("is_current"): _*)
  }

  /** Incremental SCD-2 merge: apply one batch of updates (key-unique,
    * each stamped with its effective `ts`) to an existing SCD-2
    * history. A matched key whose attributes changed gets its current
    * row closed (valid_to = update ts) and a new open row; an
    * identical update is a no-op (so re-applying a batch is
    * idempotent); a new key inserts an open row; closed history rows
    * pass through untouched. Like [[mergeUpsert]], updates must be
    * key-unique — and additionally non-null-keyed, since a NULL key
    * can never match its own current row on re-apply (every re-upsert
    * would append a duplicate open row).
    *
    * Scale shape: one shuffle — a full-outer join on the key between
    * the (small) current slice and the update batch; the closed
    * history is a union pass-through that never shuffles. */
  def scd2Apply(history: DataFrame, updates: DataFrame, key: String,
      ts: String, attrs: Seq[String]): DataFrame = {
    // one aggregation job catches both invariants (NULL keys group
    // together, so they surface as a "key" row like any duplicate)
    val bad = updates.groupBy(col(key)).count()
      .filter(col("count") > 1 || col(key).isNull).limit(1).collect()
    bad.headOption.foreach { r =>
      require(!r.isNullAt(0),
        s"scd2Apply: updates contain a NULL $key — SCD-2 requires " +
          "non-null keys (a NULL key cannot match its own current row)")
      require(false,
        s"scd2Apply: updates contain duplicate rows for key " +
          s"${r.get(0)} — SCD-2 merge requires key-unique updates")
    }
    val validToType = history.schema("valid_to").dataType
    val closed = history.filter(!col("is_current"))
    val cur = history.filter(col("is_current"))
    val u = updates.select(col(key).as("__u_key") +:
      col(ts).as("__u_ts") +: attrs.map(c => col(c).as(s"__u_$c")): _*)
    val j = cur.join(u, col(key) === col("__u_key"), "full_outer")
    val uPresent = col("__u_key").isNotNull
    val curPresent = col(key).isNotNull
    val changedAttrs = attrs.map(c => !(col(c) <=> col(s"__u_$c")))
      .reduce(_ || _)
    val closedOld = j.filter(curPresent && uPresent && changedAttrs)
      .select(col(key) +: attrs.map(col) :+ col("valid_from") :+
        col("__u_ts").as("valid_to") :+ lit(false).as("is_current"): _*)
    val newCur = j.filter(uPresent && (!curPresent || changedAttrs))
      .select(col("__u_key").as(key) +:
        attrs.map(c => col(s"__u_$c").as(c)) :+
        col("__u_ts").as("valid_from") :+
        lit(null).cast(validToType).as("valid_to") :+
        lit(true).as("is_current"): _*)
    val keepCur = j.filter(curPresent && (!uPresent || !changedAttrs))
      .select(col(key) +: attrs.map(col) :+ col("valid_from") :+
        col("valid_to") :+ col("is_current"): _*)
    closed.unionByName(closedOld).unionByName(newCur).unionByName(keepCur)
  }

  /** Query entry: SCD-2 history of each customer's order-status
    * attribute over the orders change log (o_orderdate event time,
    * o_orderkey as the deterministic within-day tie-break). */
  def scd2Query(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables
    scd2FromChangeLog(Tables.orders(spark, dir), "o_custkey",
      "o_orderdate", "o_orderkey", Seq("o_orderstatus"))
      .orderBy("o_custkey", "o_orderstatus", "valid_from", "valid_to",
        "is_current")
  }

  /** The reference's EP2 three-phase topology
    * (transfer_data_with_constraints_script.py:235-253): create the
    * tables without FKs → copy the data → add all FKs → sync sequences.
    * No copy depends on another table's CREATE, and load order is
    * independent of the FK graph, so each table's copy starts as soon as
    * its own CREATE and read return, and the copies run concurrently
    * (what `pg_restore --jobs` does for the same job); only the FKs wait
    * for every table. The reference creates every table, then copies one
    * table after another.
    *
    * The reference also carries a phase-2 lazy create-if-missing
    * fallback (transfer_data_with_constraints_script.py:193-197);
    * here each table's CREATE (IF NOT EXISTS) runs before its own read,
    * so that fallback has no work left to do and is deliberately not
    * replicated.
    *
    * Each table is read once: its copy's action also observes each
    * serial column's MAX, from which phase 4 builds the setval statements
    * with no read or job. A frame lacking a serial column fails its copy.
    *
    * Threading: `execDdl` and `read` run on the caller's thread, in
    * table order, interleaved per table (a table's CREATE, its read, then
    * the next table's CREATE). Only `write` runs concurrently, on a pool
    * this call creates and shuts down before it returns: a table's copy
    * is submitted as soon as its read returns, so later tables' CREATEs
    * and reads overlap earlier tables' writes. At most one `write` runs
    * per table, at most min(tables, `defaultParallelism` of the frames'
    * SparkContext) at a time. The pool's threads are created by the
    * caller, so every `write` sees the caller's Spark local properties
    * (job group, scheduler pool, job tags). Phase 3 starts only after
    * every copy has finished. Each copy waits at most 30 s, after its
    * `write` returns, for the observed metrics. If `execDdl` or `read`
    * throws a fatal error, every copy already started is joined before
    * it propagates.
    *
    * `exclude` holds qualified names kept out of every phase (R6).
    * Errors are isolated per table (R11): one [[TransferResult]] per
    * selected table, in `metas` order, `ok = false` with the first
    * error if its CREATE (phases 2–4 then skip it), its read, its copy,
    * an FK or its sequence sync failed. A failed copy syncs nothing. */
  def migrate(metas: Seq[TableMeta], exclude: Set[String],
      execDdl: String => Unit,
      read: TableMeta => DataFrame,
      write: (TableMeta, DataFrame) => Unit): Seq[TransferResult] = {
    val selected = metas.filterNot(m => exclude.contains(m.qualifiedName))
      .map(new Migration(_))
    // The row count and the serial maxima ride an observe() node on the
    // write's own action (zero extra action): a count() or MAX job would
    // re-execute the source read (VERDICT r10 #1). `write` must execute
    // exactly one Spark action over the frame it is given — every real
    // sink (JDBC batch insert, parquet, noop) does; `graft.Observed`
    // turns a zero-action writer into a per-table error after 30 s, the
    // contract `Pipeline.curate`'s sink has too.
    def copy(t: Migration, df: DataFrame): Unit = {
      val (m, obs) = (t.meta, new Observation())
      // an empty table has no MAX: 0 maps to setvalSql's empty form
      val maxima = m.serialColumns.zipWithIndex.map { case (c, i) =>
        coalesce(max(df(c.name)).cast("long"), lit(0L)).as(s"max$i")
      }
      write(m, df.observe(obs, count(lit(1)).as("rows"), maxima: _*))
      val got = graft.Observed.metrics(obs, s"migrate(${m.qualifiedName})", "write")
      t.rows = got("rows").asInstanceOf[Long]
      t.maxima = maxima.indices.map(i => got(s"max$i").asInstanceOf[Long])
    }
    // a per-call pool, not a shared one: its threads are created here,
    // on the caller's thread, which is what hands them its local
    // properties; joining them leaves no thread behind
    val workers = new ConcurrentLinkedQueue[Thread]()
    var pool: ExecutorService = null
    def submit(t: Migration, df: DataFrame) = {
      if (pool == null) pool = Executors.newFixedThreadPool(
        math.min(selected.size, df.sparkSession.sparkContext.defaultParallelism),
        { (r: Runnable) =>
          val th = new Thread(r, s"graft-migrate-copy-${workers.size}")
          workers.add(th)
          th
        })
      pool.submit(() => t.attempt(copy(t, df)))
    }
    // phases 1–2, per table: its CREATE (without FKs), its read, then
    // its copy starts at once, so later CREATEs overlap earlier copies
    try selected.flatMap { t =>
        t.created = t.attempt(execDdl(PgDdl.createTable(t.meta))).isDefined
        if (t.created) t.attempt(read(t.meta)).map(submit(t, _)) else None
      }.foreach(_.get())
    finally if (pool != null) {
      pool.shutdown()
      workers.forEach(_.join())
    }
    val created = selected.filter(_.created)
    val copied = created.filter(_.error.isEmpty)
    // phases 3–4 isolate each statement like the reference (:163-171):
    // a failure does not stop the rest, but marks its table failed
    // phase 3: FKs
    for (t <- created; sql <- PgDdl.addForeignKeys(t.meta))
      t.attempt(execDdl(sql))
    // phase 4: sequence sync (reference EP3) from the observed maxima
    for (t <- copied; (c, mx) <- t.meta.serialColumns.zip(t.maxima))
      t.attempt(execDdl(SequenceSync.setvalSql(t.meta, c.name, mx)))
    selected.map(t =>
      TransferResult(t.meta.qualifiedName, t.rows, t.error.isEmpty, t.error))
  }

  /** One table across [[migrate]]'s phases: whether its CREATE
    * succeeded, the copy's observed rows and serial maxima, and the first
    * error of any phase. A pool thread writes it during the copy;
    * `Future.get` hands that to the caller. */
  private final class Migration(val meta: TableMeta) {
    var created = false
    var rows = 0L
    var maxima = Seq.empty[Long]
    var error = Option.empty[String]
    def attempt[A](run: => A): Option[A] =
      try Some(run) catch { case NonFatal(e) =>
        error = error.orElse(Some(e.getMessage)); None }
  }
}
