package graft

/** Smoke main mirroring the driver's t1 check: run the flagship
  * `SparkEntry.entry` on sf0.001, print the rows and the physical plan
  * (to eyeball broadcast joins / pushed filters). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("graft-smoke")
    val df = SparkEntry.entry(spark)
    df.explain("formatted")
    val rows = df.collect()
    println(s"entry() rows = ${rows.length}")
    rows.foreach(r => println("  " + r))
    spark.stop()
  }
}
