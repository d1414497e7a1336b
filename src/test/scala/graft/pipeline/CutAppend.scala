package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The state an append leaves when it is cut after its rows landed and
  * before its descriptor did: run the append, then put back the
  * descriptor the layout had before it. */
object CutAppend {
  def apply(spark: SparkSession, dir: String)(append: => Unit): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def descriptors(): Seq[Path] =
      fs.listStatus(new Path(dir)).map(_.getPath).filter(_.getName.startsWith("_layout")).toSeq
    val saved = descriptors().map { p =>
      val in = fs.open(p)
      try p -> in.readAllBytes() finally in.close()
    }
    append
    descriptors().foreach(fs.delete(_, false))
    saved.foreach { case (p, bytes) =>
      val out = fs.create(p, false)
      try out.write(bytes) finally out.close()
    }
  }
}
