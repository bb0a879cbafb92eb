package graft.cdc

import graft.SparkSpec
import graft.sources.ReplayLogSourceProvider
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** K3 end-to-end on a real offsets table, under [[ListenerManager]]: a
  * poisoned stored replay id self-heals — the runner classifies the
  * INVALID_ARGUMENT subscribe failure, `invalidReplayHeal` clears the
  * stored offset with [[Offsets.clear]], and the next subscribe starts from
  * EARLIEST and re-delivers; a valid stored id resumes with no heal.
  */
class RecoverySpec extends SparkSpec {
  import spark.implicits._

  private val Topic = "/data/AccountChangeEvent"

  /** A client with one stored offsets row and a replay-log listener: each
    * subscribe resolves its start replay id from the table through
    * [[Offsets.latestPerKey]] (the reference's `_load_replay_b64`), and
    * [[heal]] is [[Offsets.clear]], the manager's `invalidReplayHeal`.
    */
  private final class ReplayClient(clientId: String, replay: String, events: Int) {
    @volatile var offsets: DataFrame = Seq((clientId, Topic, replay, 5L, 100L))
      .toDF("client_id", "topic_name", "last_replay_b64", "last_commit_ms", "updated_at")
    val got = new ConcurrentLinkedQueue[Long]()
    val subscribes = new AtomicInteger(0)
    private val log = Files.createTempFile("graft-recovery-log", ".jsonl")
    Files.write(log, (0 until events).map { i =>
      s"""{"entity":"Account","change_type":"UPDATE","record_ids":["R$i"],"commit_raw":${1704067200L + i},"flash_raw":"true"}"""
    }.mkString("\n").getBytes)

    def storedReplay: Option[String] = Offsets.latestPerKey(offsets)
      .filter(col("client_id") === clientId && col("topic_name") === Topic)
      .select("last_replay_b64").collect().headOption.flatMap(r => Option(r.getString(0)))

    def heal(id: String): Unit = offsets = Offsets.clear(offsets, id, Topic)

    def subscribe(id: String): StreamingQuery = {
      val ckp = Files.createTempDirectory(s"graft-rec-ckp-$id-${subscribes.incrementAndGet()}").toString
      spark.readStream.format(classOf[ReplayLogSourceProvider].getName)
        .option("path", log.toString)
        .option("startingReplay", storedReplay.getOrElse("earliest"))
        .option("validateReplay", "true")
        .load()
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckp)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select("replay_id").collect().foreach(r => got.add(r.getLong(0))); ()
        }.start()
    }
  }

  private def eventually(timeoutMs: Long = 20000L)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(cond)
  }

  test("poisoned stored replay id → clear → restart from earliest → full re-delivery") {
    val c = new ReplayClient("c1", replay = "99", events = 6) // far past the 6-event log
    val mgr = new ListenerManager(sleep = _ => (), invalidReplayHeal = Some(c.heal))
    try {
      mgr.start("c1")(c.subscribe)
      eventually()(mgr.status("c1").status == "stopped")
      assert(c.subscribes.get() === 2, "the poisoned replay id must trigger recovery")
      assert(c.got.asScala.toSeq.sorted === (0L until 6L), "restart from EARLIEST re-delivers the stream")
      // the stored offset row survives but its replay id is cleared
      val rows = c.offsets.collect()
      assert(rows.length === 1 && rows(0).isNullAt(rows(0).fieldIndex("last_replay_b64")))
    } finally mgr.stopAll()
  }

  test("valid stored replay id → no recovery, resumes mid-stream") {
    val c = new ReplayClient("c1", replay = "4", events = 6)
    val heals = new AtomicInteger(0)
    val mgr = new ListenerManager(sleep = _ => (),
      invalidReplayHeal = Some { id => heals.incrementAndGet(); c.heal(id) })
    try {
      mgr.start("c1")(c.subscribe)
      eventually()(mgr.status("c1").status == "stopped")
      assert(c.subscribes.get() === 1 && heals.get() === 0)
      assert(c.got.asScala.toSeq.sorted === Seq(4L, 5L))
      assert(c.storedReplay === Some("4"))
    } finally mgr.stopAll()
  }
}
