package graft.streaming

import graft.{QueryHelpers, SparkSpec}
import java.sql.Timestamp

/** Restart and recovery through the streaming-gate wrapper: a stateful
  * query stopped and started again from the same checkpoint gets a new run
  * id, so the restarted run's state-store provider is a fresh instance that
  * has to rebuild its map from checkpoint files (probing snapshot files that
  * do not exist, then replaying deltas) instead of reusing the in-memory
  * map of the first run.
  */
class StreamRestartSpec extends SparkSpec {
  import spark.implicits._

  test("watermarked dedup restarted from its checkpoint equals the batch answer") {
    val root = tmpDir("stream-restart")
    val src = root.resolve("src")
    val out = root.resolve("out").toString
    val ck = root.resolve("ck").toString
    // every duplicate is a byte-identical row, so "first seen" is unambiguous
    def slice(keys: Range) =
      keys.map(k => (new Timestamp(1700000000000L + k * 1000L), k.toLong, s"v$k"))
        .toDF("ts", "k", "v")
    QueryHelpers.appendReplayFile(slice(0 until 60), src, 0)
    QueryHelpers.appendReplayFile(slice(40 until 100), src, 1)
    val schema = slice(0 until 1).schema

    def runToCompletion(): Unit =
      QueryHelpers.withStreamGate(spark, src.toString, tables = Nil) {
        val q = Streams.dedupedStream(
            Streams.fileSource(spark, src.toString, schema, maxFilesPerTrigger = Some(1)),
            "ts", Seq("k"), watermark = "1 day")
          .writeStream.format("parquet")
          .option("checkpointLocation", ck)
          .start(out)
        try q.processAllAvailable() finally q.stop()
      }

    runToCompletion()
    // keys 80..99 were seen before the restart: only the restored state
    // can drop them from the new slice
    QueryHelpers.appendReplayFile(slice(80 until 140), src, 2)
    runToCompletion()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Timestamp, Long, String)].collect().toSeq.sortBy(_._2)
    val want = rows(spark.read.schema(schema).parquet(src.toString).distinct())
    assert(want.size === 140)
    assert(rows(spark.read.parquet(out)) === want)
  }
}
