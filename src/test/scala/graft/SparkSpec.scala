package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test`). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh temp dir named `<prefix><random>`, deleted with everything
    * in it when this suite ends. Streams writing into it must be stopped
    * by then.
    */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => Bench.rmTree(d.toString))
    finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val wh = Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(Bench.rmTree(wh.toString))
    val s = GraftSession
      .builder(master = "local[4]", appName = "graft-test",
        shufflePartitions = 4)
      .config("spark.sql.warehouse.dir", wh.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
