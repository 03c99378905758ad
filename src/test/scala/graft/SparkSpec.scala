package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs — the one JVM-wide session
  * [[SparkSpec.session]], so suites don't pay repeated startup.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** A fresh, empty directory named after `tag` under the JVM's test
    * root; gone when the JVM exits. */
  def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(SparkSpec.root), s"$tag-").toString

  /** (job group, micro-batch id) of every job started while `body` runs;
    * `body` runs under job group `group`, a stream's jobs carry its run id
    * as their group. */
  def jobsDuring(group: String)(body: => Unit): Seq[(String, String)] = {
    val jobs = new ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        jobs.add((p.map(_.getProperty("spark.jobGroup.id")).orNull,
          p.map(_.getProperty("streaming.sql.batchId")).orNull))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count probe")
    try body
    finally {
      sc.clearJobGroup()
      Bridge.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq
  }

  /** Jobs launched by `body`, counted under a job group of its own. */
  def jobsOf(body: => Unit): Int = {
    val group = s"jobs-of-${System.nanoTime()}"
    jobsDuring(group)(body).count(_._1 == group)
  }

  override protected def afterAll(): Unit = {
    // keep the session for sibling suites; stopped by the JVM exit
    super.afterAll()
  }
}

object SparkSpec {
  /** The test JVM's session, built once from the shipped config
    * (GraftSession) at 4 cores. A second `getOrCreate` would re-apply the
    * builder's confs to it and log "Using an existing Spark session". */
  lazy val session: SparkSession = GraftSession.builder(4)
    // per-JVM dir: concurrent sbt test runs must not share a warehouse
    // (saveAsTable in one run would clobber or lock the other's tables)
    .config("spark.sql.warehouse.dir", s"$root/warehouse")
    .getOrCreate()

  /** `<tmpdir>/graft-test-<pid>`: the one directory a test JVM writes its
    * fixtures, stores and warehouse under, registered with Hadoop
    * `FileSystem.deleteOnExit` (as `queries.Scratch` does), so a test run
    * leaves nothing behind. */
  lazy val root: String = {
    val p = new Path(s"${System.getProperty("java.io.tmpdir")}/graft-test-" +
      ProcessHandle.current().pid())
    val fs = p.getFileSystem(new Configuration())
    fs.delete(p, true)
    fs.mkdirs(p)
    fs.deleteOnExit(p)
    p.toString
  }
}
