package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingSessions

/** Streaming sessionization must equal the batch session aggregate on
  * the union of its installments: cross-batch sessions stitch, in-delay
  * out-of-order events merge, and append mode emits each closed session
  * exactly once. */
class StreamingSessionsSpec extends SparkSpec {

  test("cross-batch stitch, in-delay late event, batch parity, exactly-once append") {
    StreamingSessionsSpec.checkStitchAndParity(spark)
  }
}

object StreamingSessionsSpec extends org.scalatest.Assertions {

  private def ts(min: Long) = Timestamp.from(
    java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(min * 60))

  /** The sessionization scenario, shared with the RocksDB state-store
    * case of `IngestStreamSpec`. */
  def checkStitchAndParity(spark: SparkSession): Unit = {
    val sess = spark
    import sess.implicits._
    implicit val sq = sess.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sessions").toString

    // user 1: one session split across batches (0, 10 | 25) — gap 30min
    //   stitches them into [0:00, 0:55)
    // user 2: two sessions — (5 | ) closes before (90) starts
    // user 3: event 40 arrives a batch LATE (out of order — ts(50)
    //   came in batch 0) but ABOVE the watermark, which is still below
    //   zero after batch 0 (max 90min − 2h delay) — must merge into the
    //   (30, 50) session, not open its own
    // user 9: ONE far-future sentinel in the FINAL batch pushes the
    //   watermark past every real session so all of them close and emit
    //   (a sentinel in an early batch would raise the watermark over
    //   the later real events and drop them as too-late)
    val batches = Seq(
      Seq((1L, ts(0)), (1L, ts(10)), (2L, ts(5)), (3L, ts(30)), (3L, ts(50))),
      Seq((1L, ts(25)), (2L, ts(90)), (3L, ts(40))),
      Seq((9L, ts(40000))))

    val mem = MemoryStream[(Long, Timestamp)]
    val stream = mem.toDF.toDF("user_id", "ts")
    batches.foreach { b =>
      mem.addData(b)
      StreamingSessions.start(stream, "30 minutes", "2 hours",
        s"$dir/out", s"$dir/ckpt").awaitTermination(120000)
    }

    val got = spark.read.parquet(s"$dir/out")
      .filter(col("user_id") =!= 9)
      .select("user_id", "session_start", "session_end", "n")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2.getTime)).toSeq

    // exactly-once: no session emitted twice
    assert(got.distinct === got, s"duplicate session rows: $got")

    // batch parity on the union (sentinel's sessions may be unclosed in
    // the stream — real users must match exactly)
    val union = batches.flatten.filter(_._1 != 9L).toDF("user_id", "ts")
    val expect = StreamingSessions.sessionsBatch(union, "30 minutes")
      .collect()
      .map(r => (r.getLong(2), r.getTimestamp(0), r.getTimestamp(1), r.getLong(3)))
      .sortBy(x => (x._1, x._2.getTime)).toSeq
    assert(got === expect)

    // the stitched session: user 1's three events are ONE row spanning
    // [0:00, 0:55) (end = last event + gap)
    assert(got.filter(_._1 == 1L) === Seq((1L, ts(0), ts(55), 3L)))
    // the late event merged: user 3 has ONE session of 3 events
    assert(got.filter(_._1 == 3L) === Seq((3L, ts(30), ts(80), 3L)))
    // user 2: two separate sessions
    assert(got.count(_._1 == 2L) === 2)
  }
}
