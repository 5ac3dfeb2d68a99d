package graft

import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** `Tables.table` infers a table's parquet schema once and reuses it while
  * the table directory and the inference confs are unchanged; the file
  * listing is never reused. */
class TablesSpec extends SparkSpec {

  /** Runs `body` and counts the Spark jobs it submitted. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val (result, seen) = scheduled(body)
    (result, seen.jobs)
  }

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("a second open of an unchanged table submits no Spark job") {
    import spark.implicits._
    val dir = freshDir("tables_memo")
    Seq((1, "a"), (2, "b")).toDF("id", "name").write.parquet(s"$dir/t.parquet")
    val (first, firstJobs) = jobsDuring(Tables.table(spark, dir, "t"))
    assert(firstJobs >= 1, "the first open infers the schema with a footer-reading job")
    val (second, secondJobs) = jobsDuring(Tables.table(spark, dir, "t"))
    assert(secondJobs == 0, "the second open must reuse the inferred schema")
    assert(second.schema == first.schema)
    assert(second.orderBy("id").as[(Int, String)].collect().toSeq == Seq((1, "a"), (2, "b")))
  }

  test("an overwrite with a different schema is seen by the next open") {
    import spark.implicits._
    val dir = freshDir("tables_overwrite")
    Seq((1, "a")).toDF("id", "name").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "name"))
    Seq((7L, "x", 2.5)).toDF("key", "tag", "score")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.table(spark, dir, "t")
    assert(df.columns.toSeq == Seq("key", "tag", "score"))
    assert(df.as[(Long, String, Double)].collect().toSeq == Seq((7L, "x", 2.5)))
  }

  test("appended part files are read by the next open; listings are never reused") {
    import spark.implicits._
    val dir = freshDir("tables_append")
    val path = s"$dir/t.parquet"
    Seq((1, "a")).toDF("id", "name").write.parquet(path)
    assert(Tables.table(spark, dir, "t").count() == 1)
    Seq((2, "b")).toDF("id", "name").write.mode("append").parquet(path)
    assert(Tables.table(spark, dir, "t").orderBy("id").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "b")))
    // a part file copied in with the directory mtime put back leaves the
    // schema key unchanged: the open reuses the schema (no job) and still
    // lists the new file
    val tableDir = new java.io.File(path)
    val mtime = tableDir.lastModified()
    val part = tableDir.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, new java.io.File(tableDir, "part-copied.parquet").toPath)
    assert(tableDir.setLastModified(mtime))
    val (df, jobs) = jobsDuring(Tables.table(spark, dir, "t"))
    assert(jobs == 0)
    assert(df.count() == 3)
  }

  /** One single-row parquet file written without Spark, so no Spark
    * schema in its footer overrides what the session infers. */
  private def writeRaw(file: String, message: String, fields: (String, Long)*): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val conf = new Configuration()
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(file), conf))
      .withType(schema).withConf(conf).build()
    val row = new SimpleGroupFactory(schema).newGroup()
    fields.foreach { case (name, v) => row.append(name, v) }
    try writer.write(row) finally writer.close()
  }

  test("Tables.events normalizes a nanosecond ts to TimestampType on every open") {
    val dir = freshDir("tables_events")
    writeRaw(s"$dir/events.parquet/part-0.parquet",
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,true));
        |  optional int64 user_id;
        |}""".stripMargin,
      "event_id" -> 1L, "ts" -> 1700000000123456789L, "user_id" -> 9L)
    val want = java.time.Instant.ofEpochSecond(1700000000L, 123456000L)
    val first = Tables.events(spark, dir)
    val (second, jobs) = jobsDuring(Tables.events(spark, dir))
    assert(jobs == 0, "the second open must reuse the nanos-as-long schema")
    for (df <- Seq(first, second)) {
      assert(df.schema("ts").dataType == TimestampType)
      assert(df.select("ts").collect().map(_.getTimestamp(0).toInstant).toSeq == Seq(want))
    }
  }

  test("Tables.events leaves the nanos conf as it was for a microsecond ts") {
    val dir = freshDir("tables_events_us")
    writeRaw(s"$dir/events.parquet/part-0.parquet",
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(MICROS,true));
        |}""".stripMargin,
      "event_id" -> 1L, "ts" -> 1700000000123456L)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.unset(key)
      val before = spark.conf.getOption(key)
      val df = Tables.events(spark, dir)
      assert(spark.conf.getOption(key) == before,
        "reading a microsecond events file must not change the session's conf")
      assert(df.schema("ts").dataType == TimestampType)
      assert(df.select("ts").collect().map(_.getTimestamp(0).toInstant).toSeq ==
        Seq(java.time.Instant.ofEpochSecond(1700000000L, 123456000L)))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a change to an inference conf re-infers the schema") {
    val dir = freshDir("tables_conf")
    writeRaw(s"$dir/t.parquet/part-0.parquet",
      "message t { optional int64 ts (TIMESTAMP(MICROS,false)); }",
      "ts" -> 1700000000000000L)
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assert(Tables.table(spark, dir, "t").schema("ts").dataType == TimestampNTZType)
      spark.conf.set(key, "false")
      assert(Tables.table(spark, dir, "t").schema("ts").dataType == TimestampType)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
