package graft.pg

import graft.meta.{ColumnMeta, TableMeta}
import org.apache.spark.sql.types._

/** PostgreSQL DDL generation from TableMeta (reference ops R7–R9).
  *
  * The reference clones DDL via SQLAlchemy object copies
  * (transfer_data_script.py:59-67) and builds ALTER statements by
  * string interpolation WITHOUT identifier quoting
  * (transfer_data_with_constraints_script.py:153-161) — which breaks on
  * names needing quotes, a defect its own sequence script had to patch
  * (after-running-script.sql:93-104). Everything here quotes every
  * identifier.
  *
  * Two-phase topology preserved from the reference (EP2,
  * transfer_data_with_constraints_script.py:235-253): emit
  * [[createTable]] without FKs for every table, load data, then apply
  * [[addForeignKeys]] — load order becomes independent of the FK graph.
  */
object PgDdl {

  /** Quote a SQL identifier, escaping embedded quotes. */
  def quote(id: String): String = "\"" + id.replace("\"", "\"\"") + "\""

  private def qualified(t: TableMeta): String =
    t.schema.fold(quote(t.name))(s => s"${quote(s)}.${quote(t.name)}")

  /** Widely-used type names (and PG aliases) a reflected source type
    * may always be cloned into DDL verbatim, whatever case the driver
    * reports them in. */
  private val ClonablePgTypes: Set[String] = Set(
    "text", "varchar", "character varying", "char", "character", "bpchar",
    "citext", "uuid", "json", "jsonb", "xml", "name",
    "int2", "int4", "int8", "smallint", "integer", "bigint",
    "numeric", "decimal", "real", "float4", "float8", "double precision",
    "boolean", "bool", "date", "time", "timetz", "timestamp", "timestamptz",
    "time with time zone", "time without time zone",
    "timestamp with time zone", "timestamp without time zone",
    "bytea", "inet", "cidr", "macaddr", "macaddr8", "interval", "money",
    "tsvector", "tsquery", "point", "oid")

  /** Whether a reflected TYPE_NAME may be cloned verbatim into
    * PostgreSQL DDL. Two paths: the cross-dialect whitelist above
    * (case-insensitive), or any all-lowercase identifier — the PG JDBC
    * driver reports every type, INCLUDING user-defined enums, domains,
    * and extension types (hstore, vector, geometry), in lowercase, so
    * pg→pg fidelity covers UDTs the way the reference's column.copy()
    * does. Non-PG dialects report their dialect-only types in
    * UPPERCASE (Derby CLOB, DOUBLE, "VARCHAR () FOR BIT DATA"), which
    * this heuristic routes to the Spark-type inverse mapping instead
    * of emitting unexecutable DDL. */
  private def clonable(t: String): Boolean = {
    val base = t.replaceAll("\\(.*\\)", "").trim
    ClonablePgTypes.contains(base.toLowerCase) ||
      base.matches("[a-z_][a-z0-9_]*")
  }

  /** Target column type: the reflected source type verbatim when it is
    * a valid PostgreSQL type (exact-clone fidelity, like the
    * reference's column.copy() — a JSONB column stays JSONB instead of
    * degrading to TEXT through the Spark-type round trip), otherwise
    * the Spark type → PostgreSQL inverse of the §1 mapping table.
    * Serial columns always map to SERIAL/BIGSERIAL (the
    * sequence-ownership semantics the source TYPE_NAME may not
    * carry). */
  def pgType(c: ColumnMeta): String = c.dataType match {
    case LongType if c.serial    => "BIGSERIAL"
    case IntegerType if c.serial => "SERIAL"
    case _ if c.sourceTypeName.exists(clonable) => c.sourceTypeName.get
    case LongType                => "BIGINT"
    case IntegerType             => "INTEGER"
    case ShortType               => "SMALLINT"
    case DoubleType              => "DOUBLE PRECISION"
    case FloatType               => "REAL"
    case d: DecimalType          => s"NUMERIC(${d.precision},${d.scale})"
    case BooleanType             => "BOOLEAN"
    case DateType                => "DATE"
    case TimestampType           => "TIMESTAMPTZ"
    case TimestampNTZType        => "TIMESTAMP"
    case BinaryType              => "BYTEA"
    case v: VarcharType          => s"VARCHAR(${v.length})"
    case StringType              => "TEXT"
    case ArrayType(et, _) =>
      pgType(ColumnMeta("", et, nullable = true)) + "[]"
    case other =>
      throw new IllegalArgumentException(s"no PG mapping for $other")
  }

  private def columnDef(c: ColumnMeta): String = {
    val base = s"${quote(c.name)} ${pgType(c)}"
    val nn = if (c.nullable) "" else " NOT NULL"
    val dflt = c.default.fold("")(d => s" DEFAULT $d")
    base + nn + dflt
  }

  /** CREATE TABLE with PK/UNIQUE/CHECK but NO foreign keys (phase 1 of
    * the two-phase pass). `IF NOT EXISTS` mirrors the reference's
    * checkfirst=True idempotency (transfer_data_script.py:67). */
  def createTable(t: TableMeta): String = {
    val cols = t.columns.map(columnDef)
    val pk =
      if (t.primaryKey.isEmpty) Nil
      else Seq(s"PRIMARY KEY (${t.primaryKey.map(quote).mkString(", ")})")
    val uniques = t.uniques.map { case (n, cs) =>
      s"CONSTRAINT ${quote(n)} UNIQUE (${cs.map(quote).mkString(", ")})"
    }
    val checks = t.checks.map(c =>
      s"CONSTRAINT ${quote(c.name)} CHECK (${c.expression})")
    val body = (cols ++ pk ++ uniques ++ checks).mkString(",\n  ")
    s"CREATE TABLE IF NOT EXISTS ${qualified(t)} (\n  $body\n)"
  }

  /** Phase-3 FK statements (reference :153-161, quoted + ordered). */
  def addForeignKeys(t: TableMeta): Seq[String] =
    t.foreignKeys.map { fk =>
      val onDel = fk.onDelete.fold("")(a => s" ON DELETE $a")
      val onUpd = fk.onUpdate.fold("")(a => s" ON UPDATE $a")
      s"ALTER TABLE ${qualified(t)} ADD CONSTRAINT ${quote(fk.name)} " +
        s"FOREIGN KEY (${fk.columns.map(quote).mkString(", ")}) " +
        s"REFERENCES ${fk.refTable.split('.').map(quote).mkString(".")} " +
        s"(${fk.refColumns.map(quote).mkString(", ")})$onDel$onUpd"
    }
}
