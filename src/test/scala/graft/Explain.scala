package graft

import org.apache.spark.sql.SparkSession

/** Plan inspection utility: prints the formatted physical plan for the
  * named queries (all queries if none given) and re-times each query
  * twice so warm-cache cost is visible separately from first-run cost.
  *
  *   sbt "Test/runMain graft.Explain q00_flagship q11_join_theta"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      println(s"\n===== $name =====")
      fn(spark, sfDir).explain("formatted")
      // full materialization via noop, mirroring Bench — count() lets
      // Catalyst prune projection expressions and under-times them
      def mat(): Unit =
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime(); mat()
      val t1 = System.nanoTime(); mat()
      val t2 = System.nanoTime()
      println(f"[time] $name cold=${(t1 - t0) / 1e9}%.2fs warm=${(t2 - t1) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
