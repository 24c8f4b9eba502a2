package graft

import java.nio.file.Files
import java.sql.DriverManager
import java.util.Properties
import graft.etl.Transfer
import graft.meta.ForeignKey
import graft.pg.{PgCatalog, PgDdl}
import org.apache.spark.sql.functions._

/** Transfer + JDBC integration against embedded Derby (a real JDBC
  * database, standing in for PostgreSQL which isn't in this env). */
class TransferSpec extends SparkSpec {
  import spark.implicits._

  private val derbyUrl = "jdbc:derby:memory:graftdb;create=true"
  private val props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  test("migrate copies to parquet intact and keeps an excluded table out of every phase") {
    import graft.meta.{ColumnMeta, TableMeta}
    import org.apache.spark.sql.types.LongType
    val out = Files.createTempDirectory("graft_copy").toString
    val customer = TableMeta(Some("public"), "customer",
      columns = Seq(ColumnMeta("c_custkey", LongType, nullable = false)))
    val excluded = Fixtures.analyticsEvent
    val ddl = scala.collection.mutable.ArrayBuffer.empty[String]
    val reads = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = Transfer.migrate(Seq(excluded, customer),
      exclude = Set(excluded.qualifiedName),
      execDdl = ddl += _,
      read = { m => reads += m.name; Tables.customer(spark, sf) },
      write = (m, df) => df.write.parquet(s"$out/${m.name}.parquet"))
    assert(results.map(_.table) == Seq("public.customer"))
    assert(results.forall(_.ok))
    assert(reads.toSeq == Seq("customer"))
    assert(ddl.nonEmpty && !ddl.exists(_.contains(excluded.name)),
      s"DDL for the excluded table: $ddl")
    assert(!new java.io.File(s"$out/${excluded.name}.parquet").exists())
    // multiset equality: except in both directions is empty
    val src = Tables.customer(spark, sf)
    val dst = spark.read.parquet(s"$out/customer.parquet")
    assert(results.head.rows == src.count())
    assert(src.exceptAll(dst).isEmpty && dst.exceptAll(src).isEmpty)
  }

  test("partitioned write keeps the multiset for any partition count") {
    // the invariant the reference's unordered OFFSET paging violates
    val src = Tables.lineitem(spark, sf)
    for (n <- Seq(1, 3, 8)) {
      val out = Files.createTempDirectory(s"graft_p$n").toString
      src.repartition(n).write.mode("overwrite").parquet(out)
      val back = spark.read.parquet(out)
      assert(back.count() == src.count())
      assert(src.exceptAll(back).isEmpty && back.exceptAll(src).isEmpty)
    }
  }

  test("JDBC round trip: batched write then partitioned read (Derby)") {
    val src = Tables.nation(spark, sf)
    Transfer.writeJdbc(src, derbyUrl, "nation_t", props)
    val back = Transfer.readJdbcPartitioned(spark, derbyUrl, "nation_t",
      "n_nationkey", 0, 25, 4, props)
    assert(back.count() == src.count())
    assert(back.agg(sum("n_nationkey")).head().getLong(0) ==
      src.agg(sum("n_nationkey")).head().getLong(0))
  }

  test("catalog reflection over JDBC metadata (Derby)") {
    val conn = DriverManager.getConnection(derbyUrl)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        """CREATE TABLE APP.REFL_T (
          |  ID BIGINT NOT NULL GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
          |  NAME VARCHAR(64) NOT NULL,
          |  BAL DOUBLE,
          |  CREATED TIMESTAMP)""".stripMargin)
      val meta = PgCatalog.tableMeta(conn, Some("APP"), "REFL_T")
      assert(meta.columns.map(_.name) == Seq("ID", "NAME", "BAL", "CREATED"))
      assert(meta.primaryKey == Seq("ID"))
      val byName = meta.columns.map(c => c.name -> c).toMap
      assert(byName("ID").serial && !byName("ID").nullable)
      assert(byName("ID").dataType == org.apache.spark.sql.types.LongType)
      assert(byName("BAL").dataType == org.apache.spark.sql.types.DoubleType)
      assert(byName("BAL").nullable)
      val tables = PgCatalog.listTables(conn, Some("APP"),
        exclude = Set("APP.NATION_T"))
      assert(tables.contains("REFL_T") && !tables.contains("NATION_T"))
    } finally conn.close()
  }

  test("FK reflection keeps the referenced schema and the referential actions (Derby)") {
    val conn = DriverManager.getConnection(derbyUrl)
    try {
      val st = conn.createStatement()
      Seq("CREATE SCHEMA FKS",
        "CREATE TABLE FKS.PARENT (ID BIGINT NOT NULL PRIMARY KEY)",
        "CREATE TABLE FKS.PAIR (A INT NOT NULL, B INT NOT NULL, PRIMARY KEY (A, B))",
        """CREATE TABLE FKS.CHILD (ID BIGINT NOT NULL PRIMARY KEY, P BIGINT,
          |  X INT, Y INT,
          |  CONSTRAINT FK_P FOREIGN KEY (P) REFERENCES FKS.PARENT (ID) ON DELETE CASCADE,
          |  CONSTRAINT FK_XY FOREIGN KEY (X, Y) REFERENCES FKS.PAIR (A, B))""".stripMargin,
        "CREATE TABLE FKS.CHILD2 (ID BIGINT NOT NULL PRIMARY KEY, P BIGINT)")
        .foreach(st.executeUpdate)
      val child = PgCatalog.tableMeta(conn, Some("FKS"), "CHILD")
      // NO ACTION, the default, carries no clause
      assert(child.foreignKeys == Seq(
        ForeignKey("FK_P", Seq("P"), "FKS.PARENT", Seq("ID"), Some("CASCADE"), None),
        ForeignKey("FK_XY", Seq("X", "Y"), "FKS.PAIR", Seq("A", "B"), None, None)))
      val fkP = child.copy(name = "CHILD2",
        foreignKeys = Seq(child.foreignKeys.head.copy(name = "FK_P2")))
      val ddl = PgDdl.addForeignKeys(fkP)
      assert(ddl == Seq("ALTER TABLE \"FKS\".\"CHILD2\" ADD CONSTRAINT \"FK_P2\" " +
        "FOREIGN KEY (\"P\") REFERENCES \"FKS\".\"PARENT\" (\"ID\") ON DELETE CASCADE"))
      // the connection's default schema is APP: the statement must
      // still reach FKS.PARENT, and the action must survive the trip
      ddl.foreach(st.executeUpdate)
      assert(PgCatalog.tableMeta(conn, Some("FKS"), "CHILD2").foreignKeys ==
        fkP.foreignKeys)
    } finally conn.close()
  }

  test("atomicLoad publishes all-or-nothing through a staging table") {
    val conn = DriverManager.getConnection(derbyUrl)
    // Derby normalizes unquoted identifiers to uppercase; use uppercase
    // names so the quoted staging references resolve.
    conn.createStatement().executeUpdate(
      "CREATE TABLE ATOMIC_T (X BIGINT, Y VARCHAR(16))")
    conn.close()
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("X", "Y")
    Transfer.atomicLoad(df, derbyUrl, "ATOMIC_T", props,
      () => DriverManager.getConnection(derbyUrl))
    val back = spark.read.jdbc(derbyUrl, "ATOMIC_T", props)
    assert(back.count() == 3)
    // no staging table is left, under any suffix
    val c2 = DriverManager.getConnection(derbyUrl)
    val rs = c2.getMetaData.getTables(null, null, "ATOMIC_T_STAGING%", null)
    assert(!rs.next()); c2.close()
  }

  test("atomicLoad leaves an unrelated <target>_staging table alone") {
    // a schema may hold both t and t_staging: loading t must neither
    // drop t_staging nor publish its rows
    val conn = DriverManager.getConnection(derbyUrl)
    val st = conn.createStatement()
    st.executeUpdate("CREATE TABLE APP.ATOMIC_U (X BIGINT)")
    st.executeUpdate("CREATE TABLE APP.ATOMIC_U_STAGING (X BIGINT)")
    st.executeUpdate("INSERT INTO APP.ATOMIC_U_STAGING VALUES (7), (8), (9)")
    conn.close()
    Transfer.atomicLoad(Seq(1L, 2L).toDF("X"), derbyUrl, "APP.ATOMIC_U",
      props, () => DriverManager.getConnection(derbyUrl))
    def rows(t: String) = spark.read.jdbc(derbyUrl, t, props)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(rows("APP.ATOMIC_U") == Seq(1L, 2L))
    assert(rows("APP.ATOMIC_U_STAGING") == Seq(7L, 8L, 9L))
    val c2 = DriverManager.getConnection(derbyUrl)
    val rs = c2.getMetaData.getTables(null, "APP", "ATOMIC_U_STAGING_%", null)
    assert(!rs.next(), "the call's own staging table was left behind"); c2.close()
  }

  test("atomicLoad drops its staging table when the staging write fails") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val conn = DriverManager.getConnection(derbyUrl)
    conn.createStatement().executeUpdate("CREATE TABLE APP.ATOMIC_D (X BIGINT)")
    conn.close()
    val df = (1L to 20L).toDF("X").repartition(4)
      .withColumn("X", when(col("X") === 13L, raise_error(lit("poisoned row")))
        .otherwise(col("X")))
    intercept[Exception] {
      Transfer.atomicLoad(df, derbyUrl, "APP.ATOMIC_D", props,
        () => DriverManager.getConnection(derbyUrl))
    }
    val c2 = DriverManager.getConnection(derbyUrl)
    val rs = c2.getMetaData.getTables(null, "APP", "ATOMIC_D_STAGING%", null)
    assert(!rs.next(), "a failed load left its staging table behind"); c2.close()
  }

  test("atomicLoad retry after leftover staging rows publishes exactly once") {
    val conn = DriverManager.getConnection(derbyUrl)
    conn.createStatement().executeUpdate(
      "CREATE TABLE ATOMIC_R (X BIGINT)")
    // simulate a previous failed run that left partial staging rows
    conn.createStatement().executeUpdate(
      "CREATE TABLE ATOMIC_R_STAGING (X BIGINT)")
    conn.createStatement().executeUpdate(
      "INSERT INTO ATOMIC_R_STAGING VALUES (999)")
    conn.close()
    val df = Seq(1L, 2L).toDF("X")
    Transfer.atomicLoad(df, derbyUrl, "ATOMIC_R", props,
      () => DriverManager.getConnection(derbyUrl))
    val got = spark.read.jdbc(derbyUrl, "ATOMIC_R", props)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L), s"leftover staging rows published: ${got.toSeq}")
  }

  test("atomicLoad failure property: a mid-write abort never touches the target") {
    // the transactional-gap mitigation's actual contract: Spark's JDBC
    // writer commits per PARTITION, so a poisoned row aborts its task
    // only after sibling partitions already committed staging rows —
    // the target must still see zero of them, and a clean retry must
    // publish exactly its own rows (no leftovers from the failed run).
    // Seeded random poison position / partitioning, 3 rounds.
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val conn = DriverManager.getConnection(derbyUrl)
    conn.createStatement().executeUpdate(
      "CREATE TABLE ATOMIC_F (X BIGINT, Y VARCHAR(16))")
    conn.createStatement().executeUpdate(
      "INSERT INTO ATOMIC_F VALUES (100, 'pre'), (101, 'pre2')")
    conn.close()
    val pre = Set((100L, "pre"), (101L, "pre2"))
    def targetRows(): Set[(Long, String)] =
      spark.read.jdbc(derbyUrl, "ATOMIC_F", props)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val rnd = new scala.util.Random(20260813L)
    (1 to 3).foreach { round =>
      val n = 20 + rnd.nextInt(30)
      val poison = 1L + rnd.nextInt(n)
      val parts = 2 + rnd.nextInt(6)
      val df = (1L to n.toLong).map(i => (i, s"v$i")).toDF("X", "Y")
        .repartition(parts)
        .withColumn("Y", when(col("X") === poison,
          raise_error(lit("poisoned row"))).otherwise(col("Y")))
      val e = intercept[Exception] {
        Transfer.atomicLoad(df, derbyUrl, "ATOMIC_F", props,
          () => DriverManager.getConnection(derbyUrl))
      }
      assert(targetRows() == pre,
        s"round $round (n=$n poison=$poison parts=$parts, ${e.getMessage
          .take(60)}): failed load leaked rows into the target")
    }
    // clean retry after the failures publishes exactly its rows
    Transfer.atomicLoad(Seq((1L, "a"), (2L, "b")).toDF("X", "Y"),
      derbyUrl, "ATOMIC_F", props,
      () => DriverManager.getConnection(derbyUrl))
    assert(targetRows() == pre + ((1L, "a")) + ((2L, "b")))
  }

  test("atomicLoad handles lowercase DataFrame columns (quoted staging)") {
    // Spark's JDBC writer creates staging columns QUOTED, so lowercase
    // frame names must be quoted on the SELECT side while the unquoted
    // target side case-normalizes — the common real-world shape, since
    // every table in this repo has lowercase columns
    val conn = DriverManager.getConnection(derbyUrl)
    conn.createStatement().executeUpdate(
      "CREATE TABLE ATOMIC_LC (ID BIGINT, NAME VARCHAR(16))")
    conn.close()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    Transfer.atomicLoad(df, derbyUrl, "ATOMIC_LC", props,
      () => DriverManager.getConnection(derbyUrl))
    val back = spark.read.jdbc(derbyUrl, "ATOMIC_LC", props)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(back.toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("atomicLoad is column-order-safe against a reordered target") {
    val conn = DriverManager.getConnection(derbyUrl)
    // target DDL order (Y, X) differs from the DataFrame order (X, Y):
    // a positional INSERT .. SELECT * would mis-load or fail; the
    // explicit column lists must route values by name
    conn.createStatement().executeUpdate(
      "CREATE TABLE ATOMIC_O (Y VARCHAR(16), X BIGINT)")
    conn.close()
    val df = Seq((7L, "g"), (8L, "h")).toDF("X", "Y")
    Transfer.atomicLoad(df, derbyUrl, "ATOMIC_O", props,
      () => DriverManager.getConnection(derbyUrl))
    val back = spark.read.jdbc(derbyUrl, "ATOMIC_O", props)
      .collect().map(r => (r.getAs[Long]("X"), r.getAs[String]("Y"))).sorted
    assert(back.toSeq == Seq((7L, "g"), (8L, "h")))
  }

  test("round-trip checksum accepts an injected staging root (cluster path)") {
    val custom = java.nio.file.Files.createTempDirectory("graft_stage").toString
    val viaCustom = Transfer.roundTripChecksum(spark, sf, custom)
      .collect().map(_.toSeq).toSeq
    val viaDefault = Transfer.roundTripChecksum(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(viaCustom == viaDefault)
    // the staged copy under the custom root is cleaned up
    val leftovers = new java.io.File(custom).listFiles()
    assert(leftovers == null || leftovers.isEmpty,
      s"staging leak: ${leftovers.map(_.getName).toSeq}")
  }

  test("mergeUpsert: update wins, inserts new, keeps unmatched, honors NULL sets") {
    val target = Seq((1L, Option("a")), (2L, Option("b"))).toDF("k", "v")
    val updates = Seq((2L, None: Option[String]), (3L, Option("c"))).toDF("k", "v")
    val got = Transfer.mergeUpsert(target, updates, "k")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    // 1 carried over, 2 explicitly nulled by the update, 3 inserted
    assert(got == Set((1L, Option("a")), (2L, None), (3L, Option("c"))))
    // MERGE requires key-unique updates: duplicates fail fast instead
    // of silently fanning out matched rows
    val dups = Seq((2L, Option("x")), (2L, Option("y"))).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Transfer.mergeUpsert(target, dups, "k")
    }
    // degenerate sides: empty updates = target unchanged; empty target
    // = pure insert
    val none = Seq.empty[(Long, Option[String])].toDF("k", "v")
    assert(Transfer.mergeUpsert(target, none, "k")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(Transfer.mergeUpsert(none, updates, "k")
      .collect().map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("atomicLoad publishes into a Spark-created target (quoted columns)") {
    // a target created by Spark's own JDBC writer has an unquoted
    // (normalized) TABLE name but QUOTED case-preserved COLUMN names;
    // the publish resolves column names from target metadata
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    df.limit(0).write.jdbc(derbyUrl, "atomic_sp", props)
    Transfer.atomicLoad(df, derbyUrl, "atomic_sp", props,
      () => DriverManager.getConnection(derbyUrl))
    val back = spark.read.jdbc(derbyUrl, "atomic_sp", props)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(back.toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("atomicLoad resolves the target's columns in the target's own schema") {
    // APP.ATOM has unquoted (uppercase) columns; a Spark-created
    // OTHER.ATOM has quoted lowercase ones. Publishing into APP.ATOM
    // must not take its column names from OTHER.ATOM.
    val conn = DriverManager.getConnection(derbyUrl)
    conn.createStatement().executeUpdate(
      "CREATE TABLE APP.ATOM (ID BIGINT, NAME VARCHAR(16))")
    conn.close()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    df.limit(0).write.jdbc(derbyUrl, "OTHER.ATOM", props)
    Transfer.atomicLoad(df, derbyUrl, "APP.ATOM", props,
      () => DriverManager.getConnection(derbyUrl))
    def rows(t: String) = spark.read.jdbc(derbyUrl, t, props)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rows("APP.ATOM") == Seq((1L, "a"), (2L, "b")))
    assert(rows("OTHER.ATOM").isEmpty)
    // a `_` in the target's name is not a wildcard (Derby reports no
    // escape string): APP.ATOM_W must not take its column names from
    // APP."ATOMaW", which sorts after it in the metadata rows
    val c2 = DriverManager.getConnection(derbyUrl)
    try {
      c2.createStatement().executeUpdate(
        "CREATE TABLE APP.ATOM_W (ID BIGINT, NAME VARCHAR(16))")
      c2.createStatement().executeUpdate(
        "CREATE TABLE APP.\"ATOMaW\" (\"id\" BIGINT, \"name\" VARCHAR(16))")
    } finally c2.close()
    Transfer.atomicLoad(df, derbyUrl, "APP.ATOM_W", props,
      () => DriverManager.getConnection(derbyUrl))
    assert(rows("APP.ATOM_W") == Seq((1L, "a"), (2L, "b")))
  }

  test("JDBC scan pushes filters to the source database") {
    val df = Seq((1L, "a"), (50L, "b"), (99L, "c")).toDF("id", "name")
    df.write.mode("overwrite").jdbc(derbyUrl, "push_t", props)
    val filtered = spark.read.jdbc(derbyUrl, "push_t", props)
      .filter(col("id") > 10).select("id")
    val plan = filtered.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the predicate must reach the JDBC source (WHERE on the remote
    // query), not run as a post-scan Spark filter over a full dump
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan"),
      s"JDBC filter not pushed:\n${plan.take(800)}")
    assert(filtered.count() == 2)
  }

  test("JDBC DSv2 catalog pushes aggregate and limit to the database") {
    // the reference's row-count probe (transfer_data_script.py:102-104)
    // maps to DSv2 aggregate pushdown: COUNT/MAX run ON the database,
    // not as a full-table dump into Spark. The v1 reader
    // (spark.read.jdbc) never pushes aggregates — the DSv2 JDBCTableCatalog
    // path is the one that does, so that's the surface under test.
    val df = Seq((1L, "a"), (50L, "b"), (99L, "c")).toDF("id", "name")
    df.write.mode("overwrite").jdbc(derbyUrl, "push_agg_t", props)
    spark.conf.set("spark.sql.catalog.derbycat",
      "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    spark.conf.set("spark.sql.catalog.derbycat.url", derbyUrl)
    spark.conf.set("spark.sql.catalog.derbycat.driver",
      "org.apache.derby.jdbc.EmbeddedDriver")
    spark.conf.set("spark.sql.catalog.derbycat.pushDownAggregate", "true")
    spark.conf.set("spark.sql.catalog.derbycat.pushDownLimit", "true")
    try {
      // Derby normalizes the unquoted v1-written name to upper case
      val agg = spark.sql(
        "SELECT COUNT(*) AS n, MAX(id) AS mx FROM derbycat.PUSH_AGG_T")
      val aggPlan = agg.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(aggPlan.contains("PushedAggregates: [COUNT(*), MAX(id)]"),
        s"aggregate not pushed to Derby:\n${aggPlan.take(1200)}")
      val row = agg.head()
      assert(row.getLong(0) == 3L && row.getLong(1) == 99L)

      // LIMIT pushdown: the option is on, but Spark's DerbyDialect
      // reports supportsLimit=false (Derby SQL has FETCH FIRST, no
      // LIMIT clause), so the plan falls back to a Spark-side
      // CollectLimit over the v2 scan — correct, just not remote.
      // Against PostgreSQL the same option state yields "PushedLimit:
      // LIMIT n" (PostgresDialect supportsLimit=true); documented
      // dialect limitation, asserted against the option state here.
      assert(spark.conf.get("spark.sql.catalog.derbycat.pushDownLimit") == "true")
      val lim = spark.sql("SELECT id FROM derbycat.PUSH_AGG_T LIMIT 2")
      val limPlan = lim.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(limPlan.contains("CollectLimit") || limPlan.contains("PushedLimit"),
        s"limit neither pushed nor applied:\n${limPlan.take(1200)}")
      assert(lim.count() == 2)
    } finally {
      spark.conf.unset("spark.sql.catalog.derbycat")
      spark.conf.unset("spark.sql.catalog.derbycat.url")
      spark.conf.unset("spark.sql.catalog.derbycat.driver")
      spark.conf.unset("spark.sql.catalog.derbycat.pushDownAggregate")
      spark.conf.unset("spark.sql.catalog.derbycat.pushDownLimit")
    }
  }

  test("migrate runs the three-phase topology end-to-end (DDL capture)") {
    val ddl = scala.collection.mutable.ArrayBuffer.empty[String]
    val metas = Seq(Fixtures.analyticsEvent)
    val data = Seq((1L, "e1"), (2L, "e2")).toDF("id", "name")
    val results = Transfer.migrate(metas, exclude = Set.empty,
      execDdl = ddl += _,
      read = _ => data,
      // the write contract: one Spark action over the given frame
      // (the observe() row count rides it)
      write = (_, d) => d.write.format("noop").mode("overwrite").save())
    assert(results.head.ok && results.head.rows == 2)
    // phase order: CREATE before ALTER..FOREIGN KEY before setval
    val createIdx = ddl.indexWhere(_.startsWith("CREATE TABLE"))
    val fkIdx = ddl.indexWhere(_.contains("FOREIGN KEY"))
    val seqIdx = ddl.indexWhere(_.contains("setval"))
    assert(createIdx >= 0 && fkIdx > createIdx && seqIdx > fkIdx)
    assert(ddl.count(_.contains("FOREIGN KEY")) == 3)
    assert(ddl.last.contains("setval"))
  }

  test("migrate reads each table once when the writer runs an action") {
    import graft.meta.{ColumnMeta, TableMeta}
    import org.apache.spark.sql.types.{LongType, VarcharType}
    // no serial column, so this pins the plain copy path; the serial
    // case below pins that the sequence sync reads nothing either
    val meta = TableMeta(Some("public"), "plain_table",
      columns = Seq(ColumnMeta("id", LongType, nullable = false),
        ColumnMeta("name", VarcharType(16), nullable = true)))
    val acc = spark.sparkContext.longAccumulator("transfer_scans")
    val data = Seq((1L, "e1"), (2L, "e2")).toDS()
      .map { t => acc.add(1); t }.toDF("id", "name")
    val results = Transfer.migrate(Seq(meta), exclude = Set.empty,
      execDdl = _ => (),
      read = _ => data,
      write = (_, d) => d.write.format("noop").mode("overwrite").save())
    // the TransferResult count comes from the observe() node riding
    // the write action — 2 rows scanned ONCE, not re-counted
    assert(results.head.ok && results.head.rows == 2)
    assert(acc.value == 2L,
      s"expected one scan of 2 rows, saw ${acc.value} row-reads")
  }

  test("migrate reads a serial table once and syncs its sequence from the copied rows") {
    val ddl = scala.collection.mutable.ArrayBuffer.empty[String]
    var reads = 0
    val acc = spark.sparkContext.longAccumulator("serial_scans")
    val data = Seq((7L, "e1"), (42L, "e2")).toDS()
      .map { t => acc.add(1); t }.toDF("id", "name")
    val results = Transfer.migrate(Seq(Fixtures.analyticsEvent),
      exclude = Set.empty, execDdl = ddl += _,
      read = { _ => reads += 1; data },
      write = (_, d) => noopWrite(d))
    assert(results.head.ok && results.head.rows == 2, results)
    // the MAX rides the copy's own action: no second read, no MAX job
    assert(reads == 1 && acc.value == 2L,
      s"expected one read of 2 rows, saw $reads reads and ${acc.value} row-reads")
    assert(ddl.filter(_.contains("setval")) == Seq(
      "SELECT setval(pg_get_serial_sequence('\"public\".\"analytics_analyticsevent\"', " +
        "'id'), 42, true)"))
  }

  test("migrate syncs an empty serial table's sequence to 1 from its one read") {
    val ddl = scala.collection.mutable.ArrayBuffer.empty[String]
    var reads = 0
    val results = Transfer.migrate(Seq(Fixtures.analyticsEvent),
      exclude = Set.empty, execDdl = ddl += _,
      read = { _ => reads += 1; Seq.empty[(Long, String)].toDF("id", "name") },
      write = (_, d) => noopWrite(d))
    assert(results.head.ok && results.head.rows == 0, results)
    assert(reads == 1, s"read $reads times")
    val sync = ddl.filter(_.contains("setval"))
    assert(sync.size == 1 && sync.head.endsWith("'id'), 1, false)"), sync)
  }

  test("migrate fails a table whose frame lacks its serial column") {
    val ddl = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = Transfer.migrate(Seq(Fixtures.analyticsEvent),
      exclude = Set.empty, execDdl = ddl += _,
      read = _ => Seq("e1").toDF("name"),
      write = (_, d) => noopWrite(d))
    assert(!results.head.ok && results.head.rows == 0, results)
    // its FKs are still tried, as for any failed copy; nothing to sync
    assert(ddl.count(_.contains("FOREIGN KEY")) == 3)
    assert(!ddl.exists(_.contains("setval")), ddl)
  }

  test("migrate isolates a failed CREATE") {
    val ddl = scala.collection.mutable.ArrayBuffer.empty[String]
    val reads = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val written = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val refused = Fixtures.analyticsEvent
    val tables = plainTables("cf_a") ++ Seq(refused) ++ plainTables("cf_c")
    val data = Seq((1L, "e1"), (2L, "e2")).toDF("id", "name")
    val results = Transfer.migrate(tables, exclude = Set.empty,
      execDdl = { sql =>
        if (sql.startsWith("CREATE TABLE") && sql.contains(refused.name))
          throw new java.sql.SQLException("create refused")
        ddl += sql
      },
      read = { m => reads.add(m.name); data.select("id") },
      write = { (m, df) => written.add(m.name); noopWrite(df) })
    assert(results.map(_.table) ==
      Seq("public.cf_a", refused.qualifiedName, "public.cf_c"))
    assert(results.map(_.ok) == Seq(true, false, true))
    assert(results.map(_.rows) == Seq(2L, 0L, 2L))
    assert(results(1).error.contains("create refused"))
    import scala.jdk.CollectionConverters._
    assert(reads.asScala == Set("cf_a", "cf_c") && written.asScala == Set("cf_a", "cf_c"))
    // none of its own FK statements, no setval
    assert(!ddl.exists(_.contains(refused.name)), ddl)
  }

  /** Tables with one non-serial column: phase 4 emits nothing for them. */
  private def plainTables(names: String*) = {
    import graft.meta.{ColumnMeta, TableMeta}
    import org.apache.spark.sql.types.LongType
    names.map(n => TableMeta(Some("public"), n,
      columns = Seq(ColumnMeta("id", LongType, nullable = false))))
  }

  private def noopWrite(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("migrate copies tables concurrently") {
    // each write waits for the other one: copied one after another,
    // the first wait times out and both tables fail
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val data = Seq(1L, 2L).toDF("id")
    val results = Transfer.migrate(plainTables("conc_a", "conc_b"),
      exclude = Set.empty, execDdl = _ => (), read = _ => data,
      write = { (_, df) =>
        barrier.await(10, java.util.concurrent.TimeUnit.SECONDS)
        noopWrite(df)
      })
    assert(results.forall(r => r.ok && r.rows == 2), results)
  }

  test("migrate calls read and execDdl on the caller's thread, in table order") {
    val caller = Thread.currentThread()
    val calls = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(String, Thread)]())
    val tables = plainTables("ord_a", "ord_b", "ord_c")
    val data = Seq(1L).toDF("id")
    Transfer.migrate(tables, exclude = Set.empty,
      execDdl = sql => calls.add(("ddl " + sql.split('"')(3), Thread.currentThread())),
      read = { m => calls.add(("read " + m.name, Thread.currentThread())); data },
      write = (_, df) => noopWrite(df))
    import scala.jdk.CollectionConverters._
    val seen = calls.asScala.toSeq
    assert(seen.forall(_._2 eq caller), seen)
    assert(seen.map(_._1) == tables.flatMap(t => Seq("ddl " + t.name, "read " + t.name)))
  }

  test("migrate starts a table's copy before the next table's CREATE returns") {
    // ovl_b's CREATE waits for ovl_a's write: with every CREATE run
    // before the first copy, the wait times out and ovl_b fails
    val started = new java.util.concurrent.CountDownLatch(1)
    val data = Seq(1L, 2L).toDF("id")
    val results = Transfer.migrate(plainTables("ovl_a", "ovl_b"),
      exclude = Set.empty,
      execDdl = { sql =>
        if (sql.startsWith("CREATE TABLE") && sql.contains("ovl_b") &&
            !started.await(10, java.util.concurrent.TimeUnit.SECONDS))
          throw new IllegalStateException("ovl_a's write had not started")
      },
      read = _ => data,
      write = { (m, df) =>
        if (m.name == "ovl_a") started.countDown()
        noopWrite(df)
      })
    assert(results.forall(r => r.ok && r.rows == 2), results)
  }

  test("migrate joins the copies it started when a CREATE throws a fatal error") {
    // InterruptedException is not NonFatal: it escapes migrate, but only
    // after the copy already running for int_a has finished
    val writers = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
    val written = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val data = Seq(1L).toDF("id")
    val e = intercept[InterruptedException] {
      Transfer.migrate(plainTables("int_a", "int_b", "int_c"),
        exclude = Set.empty,
        execDdl = { sql =>
          if (sql.startsWith("CREATE TABLE") && sql.contains("int_b"))
            throw new InterruptedException("create interrupted")
        },
        read = _ => data,
        write = { (m, df) =>
          writers.add(Thread.currentThread()); written.add(m.name); noopWrite(df)
        })
    }
    assert(e.getMessage == "create interrupted")
    import scala.jdk.CollectionConverters._
    assert(written.asScala == Set("int_a"))
    val alive = writers.asScala.filter(_.isAlive)
    assert(alive.isEmpty, s"threads alive after migrate: ${alive.map(_.getName)}")
  }

  test("migrate hands the caller's Spark local properties to every write") {
    val sc = spark.sparkContext
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val data = Seq(1L).toDF("id")
    sc.setLocalProperty("graft.test.migrate", "caller")
    try Transfer.migrate(plainTables("prop_a", "prop_b", "prop_c"),
      exclude = Set.empty, execDdl = _ => (), read = _ => data,
      write = { (m, df) =>
        seen.add(m.name + "=" + sc.getLocalProperty("graft.test.migrate"))
        noopWrite(df)
      })
    finally sc.setLocalProperty("graft.test.migrate", null)
    import scala.jdk.CollectionConverters._
    assert(seen.asScala == Set("prop_a=caller", "prop_b=caller", "prop_c=caller"))
  }

  test("migrate isolates a failing write and keeps results in table order") {
    val data = Seq(1L, 2L, 3L).toDF("id")
    val results = Transfer.migrate(plainTables("iso_a", "iso_b", "iso_c", "iso_d"),
      exclude = Set.empty, execDdl = _ => (), read = _ => data,
      write = { (m, df) =>
        if (m.name == "iso_b") throw new IllegalStateException("sink refused")
        noopWrite(df)
      })
    assert(results.map(_.table) ==
      Seq("public.iso_a", "public.iso_b", "public.iso_c", "public.iso_d"))
    assert(results.map(_.ok) == Seq(true, false, true, true))
    assert(results.map(_.rows) == Seq(3L, 0L, 3L, 3L))
    assert(results(1).error.contains("sink refused"))
  }

  test("migrate fails a table whose write runs no action after the bounded wait") {
    val data = Seq(1L, 2L).toDF("id")
    val results = Transfer.migrate(plainTables("idle_a", "idle_b", "idle_c"),
      exclude = Set.empty, execDdl = _ => (), read = _ => data,
      write = (m, df) => if (m.name != "idle_b") noopWrite(df))
    assert(results.map(_.ok) == Seq(true, false, true), results)
    assert(results.map(_.rows) == Seq(2L, 0L, 2L), results)
    assert(results(1).error.exists(_.startsWith(
      "migrate(public.idle_b): no observed metrics after 30s")), results(1))
  }

  test("migrate leaves no copy thread alive when it returns") {
    val writers = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
    val data = Seq(1L).toDF("id")
    val results = Transfer.migrate(plainTables("thr_a", "thr_b", "thr_c"),
      exclude = Set.empty, execDdl = _ => (), read = _ => data,
      write = { (_, df) => writers.add(Thread.currentThread()); noopWrite(df) })
    import scala.jdk.CollectionConverters._
    assert(results.forall(_.ok) && !writers.isEmpty)
    val alive = writers.asScala.filter(_.isAlive)
    assert(alive.isEmpty, s"threads alive after migrate: ${alive.map(_.getName)}")
  }

  test("migrate marks a table failed when an FK statement fails, and carries on") {
    val ddl = scala.collection.mutable.ArrayBuffer.empty[String]
    var fkTried = 0
    val data = Seq((1L, "e1"), (2L, "e2")).toDF("id", "name")
    val results = Transfer.migrate(Seq(Fixtures.analyticsEvent),
      exclude = Set.empty,
      execDdl = { sql =>
        if (sql.contains("FOREIGN KEY")) {
          fkTried += 1
          throw new java.sql.SQLException(s"fk refused: ${sql.take(40)}")
        }
        ddl += sql
      },
      read = _ => data,
      write = (_, d) => d.write.format("noop").mode("overwrite").save())
    val r = results.head
    // the rows were copied, but the table is not fully migrated
    assert(r.rows == 2 && !r.ok)
    assert(r.error.exists(_.startsWith("fk refused: ALTER TABLE")), r.error)
    // per-statement isolation: every FK was tried, the sync still ran
    assert(fkTried == 3)
    assert(ddl.last.contains("setval"))
  }
}
