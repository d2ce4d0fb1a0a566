package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Runnable streaming demo (`sbt "runMain graft.streaming.StreamDemo"`):
  * rate source -> synthetic events -> watermarked windowed aggregation and
  * the stateful rolling lag-correlation, printed to the console for a few
  * micro-batches. This is the `readStream -> transform -> writeStream`
  * wiring a user of the library would deploy (with kafka/files replacing
  * the rate source).
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.ExtraConf.session(defaultCpus = 4)
    import spark.implicits._

    val rate = spark.readStream.format("rate").option("rowsPerSecond", "200").load()
    val events = rate.select(
      col("timestamp").as("ts"),
      (col("value") % 5).as("userId"),
      concat(lit("type"), (col("value") % 3).cast("string")).as("eventType"),
      sin(col("value").cast("double") / 10.0).as("value")
    )

    val winQ = Streams
      .windowedEventStats(events, watermark = "2 seconds", windowLen = "2 seconds")
      .writeStream.format("console").outputMode(OutputMode.Append())
      .option("truncate", "false").queryName("win").start()

    val corrQ = Streams
      .rollingLagCorrelation(events.as[Streams.Event], window = 32)
      .writeStream.format("console").outputMode(OutputMode.Update())
      .option("truncate", "false").queryName("corr").start()

    Thread.sleep(12000)
    winQ.stop(); corrQ.stop()
    println("STREAM_DEMO_DONE")
    spark.stop()
  }
}
