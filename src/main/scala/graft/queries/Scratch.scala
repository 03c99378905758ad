package graft.queries

import graft.ops.SessionCache
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Scratch directories of the queries that persist a store, and the
  * real file-source stream fixture of the stream-backed queries. */
private[graft] object Scratch {

  /** A fresh, empty scratch directory for `tag` over `dir`:
    * `<tmpdir>/graft-<tag>-<pid>-<session hash>-<dir hash>`. The path is
    * keyed on the SESSION (identityHashCode) as well as pid + dir — two
    * sessions in one JVM must never share a mode=overwrite path (the
    * round-13 ADVICE race). A stale directory from a failed prior attempt
    * is cleared first. Everything a query keeps there (sources,
    * checkpoints, stores) lives under this one directory, which is
    * registered with `FileSystem.deleteOnExit`, so the JVM's exit removes
    * it. */
  def scratchPath(spark: SparkSession, tag: String, dir: String): String = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft-$tag-" +
      s"${ProcessHandle.current().pid()}-" +
      s"${Integer.toHexString(System.identityHashCode(spark))}-" +
      Integer.toHexString(dir.hashCode)
    val p = new Path(path)
    val fs = fsOf(spark, p)
    fs.delete(p, true)
    fs.mkdirs(p)
    fs.deleteOnExit(p)
    path
  }

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val Batches = 3

  /** Runs a REAL file-source stream of `source` through the sink `start`
    * launches once per (session, tag, dir), and returns the scratch
    * directory the sink's stores live in. `start` gets the stream and
    * that directory, and returns the started query.
    *
    * The stream has three single-file parquet batches, micro-batch i
    * holding the rows with `pmod(idCol, 3) == i`. The three files come
    * from ONE write — `partitionBy` on the residue under `coalesce(1)`,
    * one file per residue — renamed into `src/`. The file source orders
    * files by modification time, so each renamed file's mtime is set in
    * batch order; `maxFilesPerTrigger=1` under `Trigger.AvailableNow`
    * makes each file one micro-batch. */
  def streamedStores(spark: SparkSession, tag: String, dir: String,
      source: => DataFrame, idCol: String)(
      start: (DataFrame, String) => StreamingQuery): String =
    SessionCache.memo(spark, dir, s"stream-$tag") {
      val base = scratchPath(spark, tag, dir)
      val (srcDir, stage) = (new Path(base, "src"), new Path(base, "stage"))
      val fs = fsOf(spark, srcDir)
      fs.mkdirs(srcDir)
      val src = source
      src.withColumn("batch", pmod(col(idCol), lit(Batches.toLong)))
        .coalesce(1).write.partitionBy("batch").parquet(stage.toString)
      val t0 = System.currentTimeMillis()
      (0 until Batches).foreach { i =>
        val part = fs.listStatus(new Path(stage, s"batch=$i")).map(_.getPath)
          .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file for batch $i in $stage"))
        val dst = new Path(srcDir, f"batch-$i%03d.parquet")
        if (!fs.rename(part, dst))
          throw new java.io.IOException(s"streamedStores: rename $part -> $dst failed")
        fs.setTimes(dst, t0 - 1000L * (Batches - i), -1L)
      }
      fs.delete(stage, true)
      val stream = spark.readStream
        .schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      start(stream, base).awaitTermination() // AvailableNow drains the files and stops
      base
    }
}
