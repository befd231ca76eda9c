package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Dev utility: time query B with and without query A having run first
  * in the same session — isolates in-session state accumulation
  * (cached blocks, localCheckpoints, codegen cache pressure) from the
  * query's own cost.
  * Usage: runMain graft.tools.OrderProbe <sfDir> <b> [a1,a2,...]
  */
object OrderProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val b = args.lift(1).getOrElse("mm06_video_neardup")
    val pre = args.lift(2).map(_.split(",").toSeq).getOrElse(Nil)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .appName("graft-order-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop")
        .mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warm the session like the bench does
    run(b); run(b)
    println(f"[order] $b baseline (warm, no pre): ${run(b)}%.2f s")
    pre.foreach { a => println(f"[order] pre-run $a: ${run(a)}%.2f s") }
    (1 to 3).foreach { i =>
      println(f"[order] $b after pre-runs, rep $i: ${run(b)}%.2f s")
    }
    spark.stop()
  }
}
