package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM — Spark startup
  * is ~5 s, so per-suite sessions would dominate test time.
  */
object TestSpark {
  // local[4] whatever SPARK_GRAFT_CPUS says; catalog writes (saveAsTable in
  // BucketingSpec) land in a temp warehouse, not ./spark-warehouse inside
  // the repo
  lazy val spark: SparkSession = GraftSession(4, Some(
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Classes Spark's code generator compiled while `body` ran. The counter
    * is JVM-wide; the forked test JVM runs one suite at a time.
    */
  def classesCompiledBy(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Command lines of the OS processes this JVM started while `body` ran,
    * from the JDK's `jdk.ProcessStart` event. Like the codegen counter it
    * is JVM-wide.
    */
  def processesStartedBy(body: => Unit): Seq[String] = {
    val recording = new Recording()
    try {
      recording.enable("jdk.ProcessStart")
      recording.start()
      try body finally recording.stop()
      val dump = Files.createTempFile("graft-processes", ".jfr")
      try {
        recording.dump(dump)
        RecordingFile.readAllEvents(dump).asScala.toSeq
          .map(_.getString("command"))
      } finally Files.delete(dump)
    } finally recording.close()
  }
}
