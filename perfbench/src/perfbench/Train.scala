package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

import graft.store.{GraftStore, NioFs, SPath}

/** Training run for the build's class-data-sharing archive: one JVM
  * that loads the classes every workload uses (a store build, the
  * warm-up and one step of each), so later runs start with them
  * pre-parsed. Measures nothing.
  *
  * {{{ perfbench.Train <work dir> }}}
  */
object Train {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-train")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try Workload.Names.foreach { name =>
      val dir = work.resolve(name)
      val wl = Workload(name, spark, dir, 1L)
      val runner = new Runner(spark, None)
      wl.prepare()
      wl.build(new GraftStore(spark, SPath(NioFs, dir.resolve("store").toString)))
      runner.step = -1
      wl.step(-1, runner)
      println(s"trained $name: ${runner.records.count(_.ok)} ops ok")
    } finally spark.stop()
  }
}
