package graft.tools

import graft.{GraftSession, SparkEntry}

/** Scratch single-query timer for local iteration: runMain
  * graft.tools.TimeOne <key> [sfDir] [reps]. Mirrors Bench's session
  * config and noop-sink timing so timings are comparable with
  * BENCH_r*.json entries. */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val key = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus, cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy("o_orderstatus").count().collect()
    val times = (1 to reps).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      SparkEntry.queries(key)(spark, sfDir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[time] $key min=${times.min}%.2f raw=${times.map(t => f"$t%.2f").mkString(",")}")
    spark.stop()
  }
}
