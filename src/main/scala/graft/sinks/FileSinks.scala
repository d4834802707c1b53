package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import java.io.{BufferedOutputStream, IOException, OutputStream}
import java.nio.charset.StandardCharsets

/** File sinks (etl-rust K5–K7) as declarative Spark writes.
  *
  * K5 (`json.rs:22-63`): one JSON doc per record under
  * OUTPUT_DIR/<subdir>/ — `df.write.json` (task files replace the
  * reference's per-record unique-name loop, whose never-clobber intent is
  * subsumed by Spark's task-attempt commit protocol — C2).
  *
  * K6 (`jsonl.rs:40-89`): append-mode JSONL batches, empty batches
  * skipped. [[writeJsonl]] meets it with mode("append") + an isEmpty
  * guard; [[writeTaggedLines]] (the `FanOutWriter.jsonl` path) meets it
  * by opening a table's file only on that table's first line, so an empty
  * table writes no file and needs no emptiness job.
  *
  * K7 (`gcs.rs:57-191`): the hand-rolled date/hour/half-hour bucketing of
  * an ascending-timestamp batch IS `write.partitionBy` over derived
  * bucket columns — order-independent (semantic upgrade noted in
  * SURVEY.md §7) and partition-prunable on read.
  */
object FileSinks {

  /** K5/K6: JSON-lines write; append semantics, empty batch skipped. */
  def writeJsonl(df: DataFrame, outDir: String, subdir: String): Unit =
    if (!df.isEmpty) df.write.mode("append").json(s"$outDir/$subdir")

  /** Final name of union partition `i`'s file for publish `key`. */
  private def partName(i: Int, key: String): String = f"part-$i%05d-$key.json"

  /** K5/K6 for many directories in ONE Spark job. `lines` has two
    * columns: `tag` (int, an index into `dirs`) and `line` (string, one
    * JSON document). Each task writes its partition's lines to a hidden
    * temporary file per directory, opened on the first line with that
    * tag, and renames it to `<dir>/part-<partition>-<key>.json` when the
    * task succeeds. Readers (`spark.read.json(dir)`) skip the hidden names
    * and the marker directory, so they see only renamed files.
    *
    * Replay safety: before the job, `<markerDir>/<key>` records the
    * partition count `n`. A later publish under the same key (a replayed
    * micro-batch, a rerun range) first deletes every name the earlier
    * attempt could have renamed into place — `n` names per directory,
    * looked up by name, so the cost does not grow with the files already
    * in a directory — and a differently partitioned replay still leaves
    * exactly one copy. Markers stay: a replay may come after a publish
    * that succeeded but whose caller never recorded it. */
  private[sinks] def writeTaggedLines(lines: DataFrame, dirs: IndexedSeq[String], markerDir: String,
      key: String): Unit = {
    require(key.nonEmpty && !key.contains('/'), s"bad publish key '$key'")
    val hconf = lines.sparkSession.sparkContext.hadoopConfiguration
    val qe = lines.queryExecution
    val rdd = qe.toRdd
    val marker = new Path(markerDir, key)
    val fs = marker.getFileSystem(hconf)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val earlier = try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim.toInt
        finally in.close()
      for (d <- dirs; i <- 0 until earlier) {
        val p = new Path(d, partName(i, key))
        p.getFileSystem(hconf).delete(p, false)
      }
    }
    val tmp = new Path(markerDir, s".$key.tmp")
    val out = fs.create(tmp, true)
    try out.write(rdd.getNumPartitions.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(marker, false)
    if (!fs.rename(tmp, marker)) throw new IOException(s"cannot write publish marker $marker")
    val conf = new SerializableConfiguration(hconf)
    SQLExecution.withNewExecutionId(qe, Some(s"publish $key")) {
      rdd.foreachPartition(rows => writePartition(rows, dirs, key, conf))
    }
  }

  private def writePartition(rows: Iterator[InternalRow], dirs: IndexedSeq[String],
      key: String, conf: SerializableConfiguration): Unit = {
    val ctx = TaskContext.get()
    val name = partName(ctx.partitionId(), key)
    val tmpName = s".$name.${ctx.taskAttemptId()}.tmp"
    val fss = dirs.map(d => new Path(d).getFileSystem(conf.value))
    val outs = new Array[OutputStream](dirs.length)
    def opened = outs.indices.filter(outs(_) != null)
    try {
      rows.foreach { r =>
        val d = r.getInt(0)
        if (outs(d) == null)
          outs(d) = new BufferedOutputStream(fss(d).create(new Path(dirs(d), tmpName), true), 1 << 16)
        r.getUTF8String(1).writeTo(outs(d))
        outs(d).write('\n')
      }
      opened.foreach { d =>
        outs(d).close()
        val dst = new Path(dirs(d), name)
        fss(d).delete(dst, false) // a retried task replaces its failed attempt's file
        if (!fss(d).rename(new Path(dirs(d), tmpName), dst))
          throw new IOException(s"cannot rename into $dst")
        outs(d) = null
      }
    } catch {
      case e: Throwable =>
        opened.foreach { d =>
          try outs(d).close() catch { case _: IOException => () }
          fss(d).delete(new Path(dirs(d), tmpName), false)
        }
        throw e
    }
  }

  /** K7: time-partitioned write with the reference's exact bucket scheme:
    * date / hour / half-hour-flag (minute < 30 → 0, else 30;
    * gcs.rs:96-115). Partition values become directories, so reads prune
    * by date/hour without touching data. */
  def writeTimePartitioned(df: DataFrame, tsCol: String, outDir: String): Unit =
    df.withColumn("p_date", date_format(col(tsCol), "yyyy-MM-dd"))
      .withColumn("p_hour", hour(col(tsCol)))
      .withColumn("p_half", when(minute(col(tsCol)) < 30, 0).otherwise(30))
      .write.mode("overwrite")
      .partitionBy("p_date", "p_hour", "p_half")
      .json(outDir)

  /** C8: golden-fixture generator (save-range / create-test-set,
    * `src/main.rs:434-462`) — extract → transform → parquet goldens named
    * `<name>_<start>_<end>`. */
  def writeGolden(df: DataFrame, goldenRoot: String, name: String, start: Long, end: Long): Unit =
    df.write.mode("overwrite").parquet(s"$goldenRoot/${name}_${start}_$end")
}
