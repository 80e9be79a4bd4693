package graft

import graft.model.Tables
import graft.sources.{JsonLogs, LogDecode}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class JsonLogsSpec extends SparkSpec {

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("json ingest: quarantine split, 0x strip, decode parity") {
    // render real OrderFilled logs as eth_getLogs-style JSON lines
    // (0x-prefixed topics array + data), plus one corrupt line and
    // one valid-JSON-wrong-shape line
    val trades = Tables.trades(spark, sf).limit(20).cache()
    val encoded = LogDecode.encodeOrderFilled(trades).cache()
    val lines = encoded.select(to_json(struct(
        lit("0x" + "ab" * 20).as("address"),
        array(concat(lit("0x"), col("topic0")),
          concat(lit("0x"), col("topic1")),
          concat(lit("0x"), col("topic2")),
          concat(lit("0x"), col("topic3"))).as("topics"),
        concat(lit("0x"), col("data")).as("data"),
        lit(7L).as("block_number"),
        col("log_index"), col("ts"))).as("line"))
      .collect().map(_.getString(0))
    val dir = tempDir("graft-jsonlogs")
    val corrupt = """{"address": "0xdead", "topics": ["""
    val shapeless = """{"address": "0xbeef", "data": "0x00", "block_number": 9}"""
    java.nio.file.Files.write(dir.resolve("page.jsonl"),
      (lines :+ corrupt :+ shapeless).mkString("\n").getBytes)

    val raw = JsonLogs.read(spark, dir.toString)
    val q = JsonLogs.quarantine(raw).collect()
    assert(q.length == 1 && q.head.getString(0) == corrupt,
      "exactly the corrupt line, raw, in quarantine")
    assert(JsonLogs.shapeRejects(raw).count() == 1)
    val good = JsonLogs.good(raw)
    assert(good.count() == lines.length.toLong)

    // decode parity: JSON -> good -> decode == direct encode -> decode
    val viaJson = LogDecode.decodeOrderFilled(good)
      .select(col("log_index"), col("maker"), col("taker"),
        col("is_maker_buy"), col("token_id"), col("usdc_i"),
        col("token_i"), col("fee_i"), col("ts"))
    val direct = LogDecode.decodeOrderFilled(encoded)
      .select(col("log_index"), col("maker"), col("taker"),
        col("is_maker_buy"), col("token_id"), col("usdc_i"),
        col("token_i"), col("fee_i"), col("ts"))
    assert(sameRows(viaJson, direct),
      "decode must not see a difference between the parquet fixture and JSON ingest")
  }

  test("good() tolerates short topics arrays under ANSI mode (1-3 topics)") {
    // ANSI element_at(arr, n) THROWS past the array end; valid logs
    // with fewer than 4 topics (ERC-20 Transfer has 3, anonymous
    // events 1) must flow through good() with null topic slots, not
    // kill the job (ADVICE r11 high).
    val dir = tempDir("graft-shorttopics")
    val lines = Seq(
      // anonymous event: 1 topic
      """{"address":"0x01","topics":["0xaa"],"data":"0x00","block_number":1,"log_index":0}""",
      // ERC-20 Transfer shape: 3 topics
      """{"address":"0x02","topics":["0xbb","0x11","0x22"],"data":"0x01","block_number":1,"log_index":1}""",
      // full 4-topic row
      """{"address":"0x03","topics":["0xcc","0x11","0x22","0x33"],"data":"0x02","block_number":1,"log_index":2}""")
    java.nio.file.Files.write(dir.resolve("page.jsonl"),
      lines.mkString("\n").getBytes)
    val good = JsonLogs.good(JsonLogs.read(spark, dir.toString))
      .orderBy("log_index").collect()
    assert(good.length == 3, "all three valid rows survive")
    val one = good(0)
    assert(one.getString(1) == "aa" && one.isNullAt(2) && one.isNullAt(3) &&
      one.isNullAt(4), "1-topic row: topic0 set, topic1..3 null")
    val three = good(1)
    assert(three.getString(1) == "bb" && three.getString(2) == "11" &&
      three.getString(3) == "22" && three.isNullAt(4),
      "3-topic row: topic3 null")
    val four = good(2)
    assert(four.getString(4) == "33", "4-topic row unchanged")
  }

  test("streaming json ingest decodes incrementally to the batch result") {
    val trades = Tables.trades(spark, sf).limit(12).cache()
    val encoded = LogDecode.encodeOrderFilled(trades)
    def page(df: DataFrame) = df.select(to_json(struct(
        lit("0x" + "cd" * 20).as("address"),
        array(concat(lit("0x"), col("topic0")),
          concat(lit("0x"), col("topic1")),
          concat(lit("0x"), col("topic2")),
          concat(lit("0x"), col("topic3"))).as("topics"),
        concat(lit("0x"), col("data")).as("data"),
        lit(7L).as("block_number"),
        col("log_index"), col("ts"))).as("line"))
      .collect().map(_.getString(0))
    val dir = tempDir("graft-jsonstream")
    // two pages arriving as separate micro-batches
    val Array(p1, p2) = Array(
      page(encoded.filter(col("log_index") % 2 === 0)),
      page(encoded.filter(col("log_index") % 2 =!= 0)))
    java.nio.file.Files.write(dir.resolve("page1.jsonl"),
      p1.mkString("\n").getBytes)
    val q = LogDecode.decodeOrderFilled(JsonLogs.good(
        JsonLogs.stream(spark, dir.toString)))
      .writeStream.format("memory").queryName("json_stream_out")
      .outputMode("append").start()
    q.processAllAvailable()
    java.nio.file.Files.write(dir.resolve("page2.jsonl"),
      p2.mkString("\n").getBytes)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("json_stream_out")
      .select(col("log_index"), col("maker"), col("taker"), col("token_id"),
        col("usdc_i"), col("token_i"))
    val batch = LogDecode.decodeOrderFilled(encoded)
      .select(col("log_index"), col("maker"), col("taker"), col("token_id"),
        col("usdc_i"), col("token_i"))
    assert(sameRows(streamed, batch),
      "two-page stream must equal the batch decode")
  }
}
