package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.TimestampType

import graft.sources.Readers

/** The testdata loader reads both physical types `events.ts` has shipped
  * as, and changes the caller's session conf only for the one that needs it.
  */
class ReadersSpec extends SparkSpec {
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  test("µs-timestamp events read leaves the session's conf as it was") {
    val s = spark.newSession()
    val before = s.conf.getAll
    val ev = Readers.table(s, sf0001, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.count() > 0)
    assert(s.conf.getAll == before)
  }

  test("TIMESTAMP(NANOS) events read as µs timestamps, truncated toward zero") {
    val s = spark.newSession()
    val dir = scratch("nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int32 k; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withConf(s.sparkContext.hadoopConfiguration).withType(schema).build()
    val nanos = Seq(1700000000123456789L, 1700000000000000999L)
    val rows = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, k) => writer.write(rows.newGroup().append("k", k).append("ts", ns)) }
    finally writer.close()

    val ev = Readers.table(s, dir, "events")
    assert(s.conf.get(NanosAsLong) == "true")
    assert(ev.schema("ts").dataType == TimestampType)
    val micros = ev.orderBy("k").selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).toSeq
    assert(micros == nanos.map(_ / 1000))
  }
}
