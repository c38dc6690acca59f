package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The headline bench under the honest consume-all sink.
  *
  * `graft.Bench` (the driver contract) times `count()` — kept
  * unchanged for cross-round comparability with the r1 anchor. But a
  * `count()` sink lets Catalyst prune computed columns whose values
  * don't affect the row count (the round-8 soak lesson): for the
  * row-wise headline queries (`q_trk_kinematics`, `q_trk_possession`)
  * the counted plan drops the kinematics/possession window work
  * entirely, so the official number measures the scan + dedup, not
  * the operator. The tensor/aggregation queries are NOT affected —
  * their row counts force the compute (explodes of data-dependent
  * arity, aggregations, joins).
  *
  * This main times the SAME headline set with every output column
  * hashed into one aggregate (`xxhash64(struct(*))` summed as
  * DECIMAL(38,0)) — the honest cost of producing the values. Prints
  * one JSON line with `"metric":"honest_total"`; numbers live in
  * SCALING.md next to the official ones, never replacing them.
  * `SPARK_GRAFT_BENCH_ONLY=q1,q2` restricts the run to the named
  * queries; each failed query's exception goes to stderr.
  */
object HonestBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.configure(SparkSession.builder(), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def consumeAll(df: org.apache.spark.sql.DataFrame): Unit =
      df.select(xxhash64(struct(df.columns.map(col): _*)).as("__h"))
        .agg(sum(col("__h").cast("decimal(38,0)"))).collect()
    // optional comma-separated name filter for single-query A/Bs
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val headline = SparkEntry.allQueries.filter(_.headline)
      .filter(q => only.forall(_.contains(q.name)))
    // a query that fails must NOT fold its time-to-failure into the
    // honest total (it would read as a speedup) — track it separately,
    // and print its exception to stderr so the failure is diagnosable
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    def fail(name: String, e: Throwable): Unit = {
      System.err.println(s"[honest-bench] $name failed:")
      e.printStackTrace()
      failed += name
    }
    headline.foreach { q =>
      try consumeAll(q.run(spark, sfDir))
      catch { case scala.util.control.NonFatal(e) => fail(q.name, e) }
      spark.catalog.clearCache()
    }
    val results = headline.filterNot(q => failed.contains(q.name)).flatMap { q =>
      val times = (1 to 3).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { consumeAll(q.run(spark, sfDir)); true }
          catch { case scala.util.control.NonFatal(e) => fail(q.name, e); false }
        spark.catalog.clearCache()
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      if (times.size == 3) Some(q.name -> times.min) else None
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"honest_total","value":${results.map(_._2).sum},""" +
      s""""unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
