package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — one JVM-wide session (Spark's
  * getOrCreate caches), UTC, small shuffle fan-out for test speed.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // see Bench: the 100-entry default codegen class cache thrashes
    // across the many distinct plans the suites compile
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .getOrCreate()

  /** Drop the catalog entry and warehouse directory of `table` and of
    * every `table_…` name — a persisted PPJoin artifact's pointer and
    * generation tables. A prior JVM's run leaves the directories behind
    * with no entry in THIS session's in-memory catalog.
    */
  protected def wipeTables(table: String): Unit = {
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh))
      fs.listStatus(wh).map(_.getPath.getName)
        .filter(n => n == table || n.startsWith(table + "_"))
        .foreach { n =>
          spark.sql(s"DROP TABLE IF EXISTS $n")
          fs.delete(new org.apache.hadoop.fs.Path(wh, n), true)
        }
  }

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }
}
