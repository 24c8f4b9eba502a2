package graft.pg

import java.sql.{Connection, DatabaseMetaData, Types}
import scala.collection.mutable.ArrayBuffer
import graft.meta.{ColumnMeta, ForeignKey, TableMeta}
import org.apache.spark.sql.types._

/** Catalog reflection over JDBC DatabaseMetaData (reference op R1).
  *
  * The reference reflects via SQLAlchemy `MetaData(schema).reflect()`
  * (transfer_data_script.py:30-35); the JDBC-standard equivalent is
  * `DatabaseMetaData.getTables/getColumns/getPrimaryKeys/
  * getImportedKeys`, which works against any JDBC database (tested
  * against embedded Derby; Postgres at runtime). Runs on the driver
  * once per migration — metadata volume is tiny.
  */
object PgCatalog {

  /** JDBC SQL type → Spark type (the §1 mapping, source direction). */
  def jdbcTypeToSpark(sqlType: Int, precision: Int, scale: Int): DataType =
    sqlType match {
      case Types.BIGINT                               => LongType
      case Types.INTEGER                              => IntegerType
      case Types.SMALLINT | Types.TINYINT             => ShortType
      case Types.DOUBLE | Types.FLOAT                 => DoubleType
      case Types.REAL                                 => FloatType
      case Types.NUMERIC | Types.DECIMAL =>
        if (precision > 0 && precision <= 38) DecimalType(precision, scale)
        else DecimalType(38, math.min(scale, 18))
      case Types.BOOLEAN | Types.BIT                  => BooleanType
      case Types.DATE                                 => DateType
      case Types.TIMESTAMP | Types.TIMESTAMP_WITH_TIMEZONE => TimestampType
      case Types.BINARY | Types.VARBINARY | Types.LONGVARBINARY | Types.BLOB =>
        BinaryType
      // VARCHAR/CHAR/TEXT/JSONB(OTHER)/CLOB all carry as strings;
      // JSONB round-trips through Sanitize.canonicalJson (§1).
      case _                                          => StringType
    }

  /** The source database's own type for a column, rendered as DDL text
    * (type-fidelity counterpart of the reference's column.copy(),
    * transfer_data_script.py:59-64). JDBC TYPE_NAME carries the exact
    * source type ("JSONB", "VARCHAR") but not its arguments, so char
    * and decimal types get their size re-attached — only when the name
    * is a plain word, so composite names like Derby's
    * "VARCHAR () FOR BIT DATA" pass through unmangled. */
  def renderSourceType(typeName: String, sqlType: Int,
      size: Int, scale: Int): Option[String] = {
    val tn = typeName.trim
    val plain = tn.nonEmpty && !tn.contains("(") && !tn.contains(" ")
    // Unbounded string-ish types (PG text, enums, citext) surface as
    // Types.VARCHAR with a COLUMN_SIZE sentinel of 2^31-1; PG's real
    // varchar length tops out at 10485760 — anything above that is
    // "no length", not a length to re-attach (text(2147483647) is not
    // executable DDL). PgLiveSpec asserts this against a live server.
    val sized = size > 0 && size <= 10485760
    if (tn.isEmpty) None
    else sqlType match {
      case Types.CHAR | Types.VARCHAR | Types.NCHAR | Types.NVARCHAR
          if plain && sized => Some(s"$tn($size)")
      case Types.NUMERIC | Types.DECIMAL
          if plain && sized => Some(s"$tn($size,${math.max(scale, 0)})")
      case _ => Some(tn)
    }
  }

  /** All table names in a schema, minus an exclusion list keyed on the
    * QUALIFIED name (reference op R6 — and its key inconsistency, §0,
    * resolved here by always matching qualified names). */
  def listTables(conn: Connection, schema: Option[String],
                 exclude: Set[String] = Set.empty): Seq[String] = {
    val md = conn.getMetaData
    val rs = md.getTables(null, schema.orNull, "%", Array("TABLE"))
    val out = ArrayBuffer.empty[String]
    while (rs.next()) {
      val s = Option(rs.getString("TABLE_SCHEM"))
      val n = rs.getString("TABLE_NAME")
      val qualified = s.fold(n)(x => s"$x.$n")
      if (!exclude.contains(qualified)) out += n
    }
    rs.close()
    out.toSeq
  }

  /** Full reflection of one table: columns + PK + FKs. A foreign key's
    * `refTable` is qualified with the referenced table's schema, so the
    * phase-3 DDL resolves it whatever the connection's default schema,
    * and its ON DELETE / ON UPDATE actions carry over. */
  def tableMeta(conn: Connection, schema: Option[String],
                table: String): TableMeta = {
    val md: DatabaseMetaData = conn.getMetaData

    val cols = ArrayBuffer.empty[ColumnMeta]
    val crs = md.getColumns(null, schema.orNull, table, "%")
    while (crs.next()) {
      val auto = "YES".equalsIgnoreCase(
        Option(crs.getString("IS_AUTOINCREMENT")).getOrElse(""))
      val sqlType = crs.getInt("DATA_TYPE")
      val size = crs.getInt("COLUMN_SIZE")
      val scale = crs.getInt("DECIMAL_DIGITS")
      cols += ColumnMeta(
        name = crs.getString("COLUMN_NAME"),
        dataType = jdbcTypeToSpark(sqlType, size, scale),
        nullable = crs.getInt("NULLABLE") != DatabaseMetaData.columnNoNulls,
        serial = auto,
        sourceTypeName = renderSourceType(
          Option(crs.getString("TYPE_NAME")).getOrElse(""), sqlType, size, scale))
    }
    crs.close()

    val pk = ArrayBuffer.empty[(Short, String)]
    val prs = md.getPrimaryKeys(null, schema.orNull, table)
    while (prs.next()) pk += ((prs.getShort("KEY_SEQ"), prs.getString("COLUMN_NAME")))
    prs.close()

    // one single-column part per (FK, KEY_SEQ) row, merged by name
    val fkParts = ArrayBuffer.empty[(Short, ForeignKey)]
    val frs = md.getImportedKeys(null, schema.orNull, table)
    while (frs.next()) {
      val refName = frs.getString("PKTABLE_NAME")
      val refTable = Option(frs.getString("PKTABLE_SCHEM")).filter(_.nonEmpty)
        .fold(refName)(s => s"$s.$refName")
      fkParts += frs.getShort("KEY_SEQ") -> ForeignKey(
        Option(frs.getString("FK_NAME")).getOrElse("fk_anon"),
        Seq(frs.getString("FKCOLUMN_NAME")), refTable,
        Seq(frs.getString("PKCOLUMN_NAME")),
        fkAction(frs.getInt("DELETE_RULE")), fkAction(frs.getInt("UPDATE_RULE")))
    }
    frs.close()
    val fks = fkParts.groupBy(_._2.name).toSeq.sortBy(_._1).map { case (_, rows) =>
      val parts = rows.sortBy(_._1).map(_._2)
      parts.head.copy(columns = parts.flatMap(_.columns).toSeq,
        refColumns = parts.flatMap(_.refColumns).toSeq)
    }

    TableMeta(schema, table, cols.toSeq,
      primaryKey = pk.sortBy(_._1).map(_._2).toSeq,
      foreignKeys = fks)
  }

  /** A JDBC referential action as its SQL words; NO ACTION, the SQL
    * default, is None so default DDL carries no clause. */
  private def fkAction(rule: Int): Option[String] = rule match {
    case DatabaseMetaData.importedKeyCascade    => Some("CASCADE")
    case DatabaseMetaData.importedKeySetNull    => Some("SET NULL")
    case DatabaseMetaData.importedKeySetDefault => Some("SET DEFAULT")
    case DatabaseMetaData.importedKeyRestrict   => Some("RESTRICT")
    case _                                      => None
  }

  /** Reflect an entire schema (R1's `metadata.reflect` equivalent). */
  def reflectSchema(conn: Connection, schema: Option[String],
                    exclude: Set[String] = Set.empty): Seq[TableMeta] =
    listTables(conn, schema, exclude).map(tableMeta(conn, schema, _))
}
