package graft.perfbench

import java.sql.DriverManager
import java.util.Properties
import scala.util.Random
import graft.etl.Transfer
import graft.meta.TableMeta
import graft.ops.Det
import graft.pg.PgCatalog
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{array, col, count, lit, sum}
import org.apache.spark.sql.types._

/** `migrate`: the reference's migration (reflect → create → copy →
  * foreign keys → sequence sync) from one embedded in-memory Derby
  * database into a fresh one per pass.
  *
  * The engine's DDL is PostgreSQL's, which Derby does not fully speak,
  * so `execDdl` runs what Derby accepts (the phase-3 foreign keys),
  * creates each target table through Spark's Derby JDBC dialect and
  * adds its primary key, and counts the rest (the setval statements)
  * without running them. The MAX aggregate behind each setval still
  * runs through the engine.
  */
object Migrate extends Workload {
  val Sf = 0.003
  private val Schema = "APP"

  /** Declared keys: primary keys, the foreign keys the copy must
    * recreate, and a BY DEFAULT identity on o_orderkey (phase 4's
    * sequence sync work). */
  private val PrimaryKeys = Map(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"))
  private val ForeignKeys = Seq(
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"))
  private val Identity = ("orders", "o_orderkey")

  /** Per-table checksums of a database in one Spark job: row count,
    * sums of the key columns and exact sums of the money columns. */
  private def checksums(spark: SparkSession, url: String, props: Properties,
      tables: Seq[String]): Map[String, Row] =
    tables.map { t =>
      val df = Transfer.readJdbc(spark, url, s"$Schema.$t", props)
      val keys = (PrimaryKeys(t.toLowerCase) ++
        ForeignKeys.filter(_._1 == t.toLowerCase).map(_._2)).distinct
      val money = df.schema.fields.filter(_.dataType == DoubleType)
        .map(f => Det.exactSum(col(f.name)))
      df.agg(count(lit(1)),
          array(keys.map(k => sum(col(k.toUpperCase).cast("decimal(38,0)"))): _*),
          array((lit(0.0) +: money): _*))
        .select(lit(t), col("*"))
    }.reduce(_ union _).collect().map(r => r.getString(0) -> r).toMap

  private def sqlType(t: DataType): String = t match {
    case IntegerType => "INT"
    case LongType => "BIGINT"
    case DoubleType => "DOUBLE"
    case TimestampType => "TIMESTAMP"
    case _ => "VARCHAR(64)"
  }

  /** Create and fill the source database; rows go in in a seeded
    * order. Returns the per-table (min, max) of the partition column. */
  private def loadSource(url: String, tables: Seq[Data.Table],
      seed: Long): Map[String, (Long, Long)] = {
    val conn = DriverManager.getConnection(url + ";create=true")
    try {
      val st = conn.createStatement()
      tables.foreach { t =>
        val cols = t.schema.fields.map { f =>
          val ident =
            if ((t.name, f.name) == Identity) " GENERATED BY DEFAULT AS IDENTITY"
            else ""
          s"${f.name} ${sqlType(f.dataType)} NOT NULL$ident"
        }
        st.executeUpdate(s"CREATE TABLE ${t.name} (" + (cols :+
          s"PRIMARY KEY (${PrimaryKeys(t.name).mkString(", ")})").mkString(", ") +
          ")")
      }
      conn.setAutoCommit(false)
      val r = new Random(seed ^ 0x10adL)
      tables.foreach { t =>
        val ps = conn.prepareStatement(s"INSERT INTO ${t.name} VALUES (" +
          t.schema.fields.map(_ => "?").mkString(", ") + ")")
        r.shuffle(t.rows).grouped(1000).foreach { batch =>
          batch.foreach { row =>
            t.schema.fields.indices.foreach(i => ps.setObject(i + 1, row.get(i)))
            ps.addBatch()
          }
          ps.executeBatch()
        }
        ps.close()
        conn.commit()
      }
      ForeignKeys.foreach { case (t, c, rt, rc) =>
        st.executeUpdate(s"ALTER TABLE $t ADD FOREIGN KEY ($c) REFERENCES $rt ($rc)")
      }
      val bounds = tables.map { t =>
        val k = PrimaryKeys(t.name).head
        val rs = st.executeQuery(s"SELECT MIN($k), MAX($k) FROM ${t.name}")
        rs.next()
        t.name.toUpperCase -> (rs.getLong(1), rs.getLong(2))
      }.toMap
      conn.commit()
      bounds
    } finally conn.close()
  }

  private def dropDb(url: String): Unit =
    try DriverManager.getConnection(url + ";drop=true").close()
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }

  /** Per table: primary key and (columns, referenced table, referenced
    * columns) of each foreign key. */
  private def keysOf(metas: Seq[TableMeta]) =
    metas.map(m => m.name -> (m.primaryKey,
      m.foreignKeys.map(f => (f.columns, f.refTable, f.refColumns)).toSet)).toMap

  /** A loaded source database: its URL, the (min, max) of each table's
    * partition column and the total row count. */
  final case class State(srcUrl: String, bounds: Map[String, (Long, Long)],
      sourceRows: Long)

  def setup(ctx: Ctx, rep: Int): State = {
    val url = s"jdbc:derby:memory:pbsrc$rep"
    val tables = Data.star(ctx.seed, Data.scale(Sf))
    State(url, loadSource(url, tables, ctx.seed), tables.map(_.rows.size.toLong).sum)
  }

  override def release(state: State): Unit = dropDb(state.srcUrl)

  def run(ctx: Ctx, state: State): Outcome = {
    val spark = ctx.spark
    val props = new Properties()
    val State(srcUrl, bounds, sourceRows) = state
    val srcMetas = {
      val c = DriverManager.getConnection(srcUrl)
      try PgCatalog.reflectSchema(c, Some(Schema)) finally c.close()
    }
    val expected = checksums(spark, srcUrl, props, srcMetas.map(_.name))
    val sourceKeys = keysOf(srcMetas)
    val tracer = ctx.tracer
    val sc = spark.sparkContext
    var rowsWritten = 0L
    var results = Seq.empty[Transfer.TransferResult]

    def tgtUrl(pass: Int) = s"jdbc:derby:memory:pbtgt${pass + 1}"

    def pass(i: Int): Unit = {
      val url = tgtUrl(i)
      val connect = () => DriverManager.getConnection(url)
      val metas = tracer.span("pg.reflect") {
        val c = DriverManager.getConnection(srcUrl)
        try PgCatalog.reflectSchema(c, Some(Schema)) finally c.close()
      }
      val byName = metas.map(m => m.name -> m).toMap
      val copied = scala.collection.mutable.Set.empty[String]
      val readStart = scala.collection.mutable.Map.empty[String, Long]
      var seqStart = 0L
      def execDdl(sql: String): Unit = {
        tracer.count("pg.ddl_statements")
        if (sql.startsWith("CREATE TABLE")) {
          val name = sql.split('"')(3)
          val m = byName(name)
          spark.createDataFrame(sc.emptyRDD[Row], m.structType)
            .write.jdbc(url, s"$Schema.$name", props)
          val c = connect()
          try c.createStatement().executeUpdate(s"ALTER TABLE $Schema.$name " +
            s"ADD PRIMARY KEY (${m.primaryKey.mkString(", ")})")
          finally c.close()
        } else if (sql.contains(" FOREIGN KEY ")) tracer.span("pg.fk") {
          val c = connect()
          try c.createStatement().executeUpdate(sql) finally c.close()
        } else if (sql.contains("setval(")) {
          tracer.record("pg.seqsync", seqStart, System.nanoTime())
        }
      }
      def read(m: TableMeta): DataFrame = {
        tracer.count("etl.source_reads")
        if (copied(m.name)) seqStart = System.nanoTime()
        else readStart(m.name) = System.nanoTime()
        val (lo, hi) = bounds(m.name)
        Transfer.readJdbcPartitioned(spark, srcUrl, s"$Schema.${m.name}",
          m.primaryKey.head, lo, hi + 1, ctx.nproc, props)
      }
      def write(m: TableMeta, df: DataFrame): Unit = {
        tracer.span("etl.atomic_load") {
          ExecutorCounters.tagged(sc, "perfbench.scope", "stage_write") {
            Transfer.atomicLoad(df, url, s"$Schema.${m.name}", props, connect)
          }
        }
        val t1 = System.nanoTime()
        tracer.record("etl.copy", readStart(m.name), t1)
        tracer.record(s"etl.copy.${m.name.toLowerCase}", readStart(m.name), t1)
        copied += m.name
      }
      results = Transfer.migrate(metas, Set.empty, execDdl, read, write)
      rowsWritten += results.map(_.rows).sum
    }

    /** Untimed: compare every target table and its keys with the
      * source, then replace the target database with an empty one. */
    def check(i: Int): Boolean = {
      val url = tgtUrl(i)
      val failedTables = results.count(r =>
        !r.ok || r.rows != expected(r.table.split('.').last).getLong(1))
      val mismatches = tracer.span("etl.verify") {
        val got = checksums(spark, url, props, srcMetas.map(_.name))
        val tgt = srcMetas.count(m => got.get(m.name) != expected.get(m.name))
        val c = DriverManager.getConnection(url)
        val keys = try keysOf(PgCatalog.reflectSchema(c, Some(Schema)))
          finally c.close()
        tgt + sourceKeys.count { case (t, k) => keys.get(t) != Some(k) }
      }
      dropDb(url)
      DriverManager.getConnection(tgtUrl(i + 1) + ";create=true").close()
      if (failedTables + mismatches > 0)
        System.err.println(s"[perfbench] migrate pass $i: $results, " +
          s"$mismatches table checksum/key mismatches")
      failedTables + mismatches == 0
    }

    DriverManager.getConnection(tgtUrl(-PassLoop.Warmups) + ";create=true").close()
    val loop = PassLoop(ctx)(pass)(check)
    // the counters listened to the traced passes only
    val traced = math.max(1, loop.tracedMs.size).toDouble
    val stageWrite = ctx.counters.fold(0L)(_.get("scope.stage_write_ms")) / traced
    val layers = Map(
      "pg.reflect_ms" -> tracer.totalMs("pg.reflect") / traced,
      "pg.ddl_statements" -> tracer.counter("pg.ddl_statements").toDouble / loop.attempted,
      "pg.fk_ms" -> tracer.totalMs("pg.fk") / traced,
      "pg.seqsync_ms" -> tracer.totalMs("pg.seqsync") / traced,
      "etl.copy_ms" -> tracer.totalMs("etl.copy") / traced,
      "etl.copy_ms.lineitem" -> tracer.totalMs("etl.copy.lineitem") / traced,
      "etl.stage_write_ms" -> stageWrite,
      "etl.publish_ms" -> (tracer.totalMs("etl.atomic_load") / traced - stageWrite),
      "etl.verify_ms" -> tracer.totalMs("etl.verify") / traced,
      "etl.source_reads" -> tracer.counter("etl.source_reads").toDouble / loop.attempted,
      "etl.rows_written" -> rowsWritten.toDouble / loop.attempted)
    dropDb(tgtUrl(loop.untracedMs.size + loop.tracedMs.size))
    val rowsPerS = sourceRows / (Stats.median(loop.untracedMs) / 1000.0)
    Outcome(loop.untracedMs, loop.tracedMs, loop.tracedMs.size, rowsPerS,
      Seq(("migrate_rows_per_s", rowsPerS, "rows/s")),
      attempted = loop.attempted, failed = loop.failed,
      heapPeakMb = loop.heapPeakMb, layers = layers)
  }
}
