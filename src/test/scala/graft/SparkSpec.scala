package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one lazy session per suite (spark_guide.md). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def writeTmp(name: String, content: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graftspec")
    SparkSpec.cleanupAtExit(dir.toFile)
    val p = dir.resolve(name)
    java.nio.file.Files.writeString(p, content)
    p.toString
  }
}

object SparkSpec {
  // every writeTmp dir is removed when the test JVM exits — a full
  // suite run creates ~150 of them otherwise
  private val dirs = java.util.concurrent.ConcurrentHashMap
    .newKeySet[java.io.File]()
  private lazy val hook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      dirs.forEach(TmpDirs.deleteRec(_))
    }))
  private[graft] def cleanupAtExit(f: java.io.File): Unit = {
    hook; dirs.add(f): Unit
  }
}
