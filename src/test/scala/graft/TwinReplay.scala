package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The feeds the twin-equality replays share: a chunked MemoryStream
  * feed with watermark sentinels, and a kill-and-resume feed that runs a
  * fresh query per chunk from one checkpoint. */
trait TwinReplay extends SparkSpec {

  protected val D = "/root/testdata/sf0.001"
  protected val NChunks = 4

  /** Split an event-time-sorted seq into chunks, feed each as its own
    * micro-batch, then push `sentinels` (far-future rows that touch no
    * asserted state) twice: once to advance the watermark past every
    * real event, once more so event-time timers armed by that advance
    * actually fire. */
  protected def feedChunked[A](input: MemoryStream[A],
      q: org.apache.spark.sql.streaming.StreamingQuery,
      rows: Seq[A], sentinels: Seq[A]): Unit = {
    rows.grouped(math.max(rows.size / NChunks, 1)).foreach { chunk =>
      input.addData(chunk)
      q.processAllAvailable()
    }
    sentinels.foreach { s =>
      input.addData(s)
      q.processAllAvailable()
    }
  }

  /** Kill-and-resume replay: the same chunked feed as [[feedChunked]],
    * but every chunk is processed by a FRESH streaming query resuming
    * from the shared checkpoint (file source + Trigger.AvailableNow) —
    * the process "dies" between every micro-batch. Restart-mid-stream is
    * where stateful operators break: buffered state, the running
    * watermark, and armed event-time timers must all come back from the
    * checkpoint, and the final output must STILL equal the one-shot
    * batch form. `sentinels` are extra far-future rows, each fed in its
    * own run (a resumed batch only sees the watermark checkpointed at
    * the previous run's end, so flushing the tail takes one run per
    * watermark step plus one for the timers it arms). `each` is applied
    * to every micro-batch of `mk`'s output before its rows are kept (a
    * per-batch aggregation that cannot stream). */
  protected def restartReplay(tag: String, jsonRows: Seq[String],
      sentinels: Seq[String], schema: String,
      each: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = identity)(
      mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val dir = JFiles.createTempDirectory(s"twin_restart_$tag").toString
    val srcDir = s"$dir/src"
    JFiles.createDirectories(JPaths.get(srcDir))
    val out = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]
    var nFile = 0
    def feed(rows: Seq[String]): Unit = {
      JFiles.writeString(JPaths.get(srcDir, f"f$nFile%03d.json"),
        rows.mkString("", "\n", "\n"))
      nFile += 1
      val events = spark.readStream.schema(schema).json(srcDir)
      val q = mk(events).writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          each(b).collect().foreach(out.add)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    jsonRows.grouped(math.max(jsonRows.size / NChunks, 1)).foreach(c => feed(c))
    sentinels.foreach(s => feed(Seq(s)))
    scala.jdk.CollectionConverters.IteratorHasAsScala(out.iterator()).asScala.toSeq
  }
}
