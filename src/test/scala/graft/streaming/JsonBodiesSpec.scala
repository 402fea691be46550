package graft.streaming

import java.nio.file.{Files, StandardOpenOption}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Every heartbeat and status body is valid JSON, failure events included:
  * each one here goes through Jackson's parser, not a substring check. */
class JsonBodiesSpec extends AnyFunSuite with SparkTestBase {

  private val mapper = new ObjectMapper()

  test("started, progress and terminated-with-exception heartbeats parse as JSON") {
    val buf = new BufferingHeartbeat
    val listener = new HeartbeatListener(buf)
    spark.streams.addListener(listener)
    try {
      val dir = Files.createTempDirectory("graft-json-hb")
      val f = dir.resolve("a.log")
      Files.writeString(f, "ok\n")
      val failOnBoom: (DataFrame, Long) => Unit = (df, _) =>
        if (!df.filter(col("value").cast("string") === "boom").isEmpty)
          throw new IllegalStateException("boom: \"quoted\"\n\tsecond line \\ end")
      val q = spark.readStream.format("graft-tail")
        .option("path", dir.toString).option("format", "text")
        .load()
        .writeStream.queryName("hb \"json\"")
        .option("checkpointLocation", Files.createTempDirectory("graft-json-cp").toString)
        .foreachBatch(failOnBoom)
        .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
      q.processAllAvailable()
      Files.writeString(f, "boom\n", StandardOpenOption.APPEND)
      intercept[StreamingQueryException](q.awaitTermination(60000))
      // listener delivery is async; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline &&
        !buf.messages.exists(_.contains("\"event\":\"terminated\""))) Thread.sleep(100)
      val parsed = buf.messages.map(m => mapper.readTree(m))
      val byEvent = parsed.groupBy(_.get("event").asText)
      assert(Set("started", "progress", "terminated").subsetOf(byEvent.keySet), buf.messages)
      assert(byEvent("started").exists(_.get("name").asText == "hb \"json\""))
      val exception = byEvent("terminated").head.get("exception").asText
      assert(exception.contains("boom: \"quoted\"\n\tsecond line \\ end"), exception)
    } finally spark.streams.removeListener(listener)
  }

  test("a status body whose store read fails reports the error as valid JSON") {
    val mgr = new PipelineManager(spark)
    val name = "bad \"store\"\n"
    val json = new StatusReporter(mgr, spark = Some(spark),
      storeRoots = () => Seq(name -> "no-such-scheme://host/idx")).statusJson()
    val store = mapper.readTree(json).get("maintenance").get(name)
    assert(store != null && store.get("error").asText.contains("no-such-scheme"), json)
  }
}
