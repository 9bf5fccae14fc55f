package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one JVM-wide engine session, as in
  * the reference's AbstractTestBase, which runs every test on the
  * runtime a job deploys on. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String) = s"/root/testdata/sf0.001"

  /** (path, mtime, length) of every file under a managed table's
    * warehouse dir — the "base untouched" fingerprint the tiered-
    * compaction specs share. */
  def warehouseFiles(table: String): Seq[(String, Long, Long)] = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val p = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val b = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      b += ((f.getPath.toString, f.getModificationTime, f.getLen))
    }
    b.result().sortBy(_._1)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.engine(4)
}
