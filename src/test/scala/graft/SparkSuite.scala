package graft

import java.nio.file.{Files, Path}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** A per-suite scratch root in the temp directory: every [[tempDir]] is
  * made under it, and `afterAll` deletes the whole tree, so a suite
  * leaves nothing behind however many lake roots and checkpoints its
  * tests create. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private var root: Option[Path] = None

  /** A fresh, empty directory under this suite's root. */
  protected def tempDir(prefix: String): Path = synchronized {
    val r = root.getOrElse {
      val made = Files.createTempDirectory(s"graft-${getClass.getSimpleName}-")
      root = Some(made)
      made
    }
    Files.createTempDirectory(r, prefix)
  }

  /** The `file://` URI of a fresh [[tempDir]], the form lake roots take. */
  protected def tempUri(prefix: String): String =
    s"file://${tempDir(prefix).toFile.getAbsolutePath}"

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally synchronized {
      root.foreach(r => Fs.deleteRecursively(r.toFile))
      root = None
    }
}

/** Base for suites that need Spark: one shared local session (getOrCreate
  * dedupes across suites in the same JVM). */
trait SparkSuite extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = Sessions.local("4")
  def sf(name: String): String = s"/root/testdata/$name"

  /** Spark jobs started while `body` runs, counted once the listener bus
    * has delivered every event from before and during it. */
  protected def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  /** Replay-style lake tests compare object keys across separate land
    * calls, and each call stamps its own flushTime into the key's
    * YYYY/MM/DD/HH path — two calls straddling a UTC hour boundary get
    * disjoint key spaces and the replay assertions fail spuriously. When
    * the boundary is seconds away, wait it out. */
  protected def avoidHourBoundary(marginSec: Long = 10): Unit = {
    val secIntoHour = java.time.Instant.now().getEpochSecond % 3600
    if (secIntoHour >= 3600 - marginSec)
      Thread.sleep((3601 - secIntoHour) * 1000)
  }
}
