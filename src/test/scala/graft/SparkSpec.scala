package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite, local[4], UTC, AQE on. Every
  * directory a suite makes lives under its own temp root, which is
  * removed after the suite once the session's streams have stopped. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf = "/root/testdata/sf0.001"

  private var tempRoot: Option[java.nio.file.Path] = None

  /** A fresh directory under this suite's temp root. */
  def tempDir(prefix: String): java.nio.file.Path = synchronized {
    val root = tempRoot.getOrElse {
      val r = java.nio.file.Files.createTempDirectory("graft-suite")
      tempRoot = Some(r)
      r
    }
    java.nio.file.Files.createTempDirectory(root, prefix)
  }

  override def afterAll(): Unit =
    try {
      SparkSession.getDefaultSession.foreach(_.streams.active.foreach(_.stop()))
      tempRoot.foreach(graft.model.Views.rmTree)
    } finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
