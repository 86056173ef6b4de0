package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model.InvoiceModel
import graft.streaming.MicroBatcher.Rec
import graft.streaming.ResponsePipeline

/** `response_batching`: `ResponsePipeline.run` (batch 100, timeout
  * 3000 ms, its default trigger) fed by an open-loop generator at 1000
  * records/s, then a fixed pre-loaded backlog. A sink observer thread
  * reads each packet file as it appears, as a consumer would. */
object ResponseBatching {
  val TickMs = 100.0
  val RecsPerTick = 100
  /** Records each set-up sends before the open loop (one micro-batch),
    * so the open loop and the drain see a warm JIT. */
  val WarmRecs = 20000
  val BacklogRecs = 200000
  val BatchSize = 100
  val TimeoutMs = 3000L
  private val ApiShares = Array(10 -> .6, 11 -> .25, 12 -> .1, 13 -> .03, 14 -> .02)
  private val OutOfDomain = Array(0, 9, 15, 99)
  private val OutPerTick = 2
  private val DupsPerTick = 5
  private val Filler = "x" * 48

  /** Seeded records, composed per tick of 100: 2 out-of-domain records,
    * 5 keys sent twice in the same tick (inside the buffer window), and
    * in-domain api_types at exactly the .6/.25/.1/.03/.02 shares over
    * the run (a running quota), so the cold keys' flush rhythm does not
    * depend on the seed; the seed shuffles the order within each tick. */
  final class Gen(seed: Long) {
    private val rng = new java.util.Random(seed)
    val api = mutable.ArrayBuffer.empty[Int]
    private val owed = Array.fill(ApiShares.length)(0.0)

    private def rec(a: Int): Rec = {
      val id = api.size
      api += a
      Rec(a, s"k$id", s"r${id}_$Filler")
    }

    /** One tick's records. */
    def tick(): Array[Rec] = {
      val inDomain = RecsPerTick - OutPerTick - DupsPerTick
      val keys = mutable.ArrayBuffer.empty[Int]
      ApiShares.indices.foreach(k => owed(k) += ApiShares(k)._2 * inDomain)
      while (keys.size < inDomain) {
        val k = owed.indices.maxBy(owed(_))
        owed(k) -= 1
        keys += ApiShares(k)._1
      }
      (0 until OutPerTick).foreach(_ => keys += OutOfDomain(rng.nextInt(OutOfDomain.length)))
      val recs = scala.util.Random.javaRandomToRandom(rng).shuffle(keys).map(rec)
      val dups = scala.util.Random.javaRandomToRandom(rng)
        .shuffle(recs.indices.filter(i => ApiShares.exists(_._1 == recs(i).apiType)).toList)
        .take(DupsPerTick).toSet
      recs.indices.flatMap(i => if (dups(i)) Seq(recs(i), recs(i)) else Seq(recs(i))).toArray
    }

    def recs(n: Int): Array[Rec] = Array.fill(n / RecsPerTick)(tick()).flatten
  }

  /** A record's generator id, carried in its payload. */
  def idOf(r: Rec): Int = r.payload.drop(1).takeWhile(_ != '_').toInt

  /** One packet as read back from the sink. */
  final case class Seen(seenMs: Double, apiType: Int, seq: Long, size: Int,
      reason: String, ids: Array[Int])

  /** Polls the sink directory and reads every new packet file. */
  final class Observer(dir: File) extends Thread("perfbench-observer") {
    @volatile private var running = true
    private val files = mutable.Set.empty[String]
    val packets = new java.util.concurrent.ConcurrentLinkedQueue[Seen]()
    private val conf = new Configuration()
    private val IdRe = "\"r(\\d+)_".r

    override def run(): Unit = while (running) { poll(); Thread.sleep(10) }
    def finish(): Unit = { running = false; join(); poll() }

    private def poll(): Unit = {
      val names = Option(dir.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .filterNot(f => files(f.getName))
      if (names.nonEmpty) {
        val t = Clock.nowMs()
        names.foreach { f =>
          files += f.getName
          val r = ParquetReader.builder(new GroupReadSupport(), new Path(f.getAbsolutePath))
            .withConf(conf).build()
          try {
            var g: Group = r.read()
            while (g != null) {
              val ids = IdRe.findAllMatchIn(g.getString("value", 0)).map(_.group(1).toInt).toArray
              packets.add(Seen(t, g.getInteger("apiType", 0), g.getLong("seq", 0),
                g.getInteger("size", 0), g.getString("reason", 0), ids))
              g = r.read()
            }
          } finally r.close()
        }
      }
    }
  }

  final case class Stream(spark: SparkSession, mem: MemoryStream[Rec],
      query: StreamingQuery, observer: Observer)

  def start(ctx: Ctx, tag: String): Stream = {
    val spark = ctx.session(Main.Cores, tag)
    val mem = MemoryStream[Rec](spark, Main.Cores)(Encoders.product[Rec])
    val out = ctx.dir(s"out/$tag")
    val q = ResponsePipeline.run(mem.toDS(), out, ctx.dir(s"checkpoint/$tag"),
      BatchSize, TimeoutMs)
    val obs = new Observer(new File(out, "kafka_out"))
    obs.start()
    Stream(spark, mem, q, obs)
  }

  def stop(s: Stream): Unit = { s.observer.finish(); s.query.stop(); s.spark.stop() }

  /** Waits (up to a trigger interval) until no micro-batch is running, so
    * a heap sample does not catch a batch in flight. */
  private def awaitIdle(q: StreamingQuery): Unit = {
    val until = Clock.nowMs() + 600
    while (q.status.isTriggerActive && Clock.nowMs() < until) Thread.sleep(2)
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val gen = new Gen(ctx.seed)
    val warm = (0 until Main.Setups).map(_ => gen.recs(WarmRecs))
    val nTicks = math.max(1, (ctx.seconds * 1000 / TickMs).round.toInt)
    val ticks = (0 until nTicks).map(_ => gen.tick())
    val openIds = (idOf(ticks.head.head), gen.api.size)
    val backlog = gen.recs(BacklogRecs)
    val keptFrom = idOf(warm.last.head)
    val due = Array.fill(gen.api.size)(Double.NaN)
    val tr = ctx.tracer
    def inDomain(i: Int) = InvoiceModel.ApiTypes.contains(gen.api(i))

    tr.span("response_batching", -1) { root =>
      val s = tr.span("setup", root) { setup =>
        ctx.setUp(setup) { (i, sp) =>
          val s = tr.span("start", sp) { _ => start(ctx, s"setup$i") }
          tr.span("warm", sp) { _ =>
            s.mem.addData(warm(i).toSeq)
            // warm = the first data batch has completed
            while (!s.query.recentProgress.exists(_.numInputRows > 0)) Thread.sleep(5)
          }
          s
        }(stop)
      }
      awaitIdle(s.query)
      ctx.sampleLiveHeap()

      def seenIds(): Array[Int] = {
        val c = new Array[Int](gen.api.size)
        s.observer.packets.forEach(p => p.ids.foreach(i => if (i < c.length) c(i) += 1))
        c
      }
      def awaitAll(from: Int, until: Int, deadlineMs: Double): Unit = {
        var done = false
        while (!done && Clock.nowMs() < deadlineMs) {
          val c = seenIds()
          done = (from until until).forall(i => !inDomain(i) || c(i) > 0)
          if (!done) Thread.sleep(50)
        }
      }

      val tickLog = new Array[Map[String, Any]](nTicks)
      tr.span("open_loop", root) { _ =>
        val t0 = Clock.nowMs() + TickMs
        val g = new Thread(() => {
          for (k <- 0 until nTicks) {
            val d = t0 + k * TickMs
            Clock.sleepUntilMs(d)
            val sent = Clock.nowMs()
            s.mem.addData(ticks(k).toSeq)
            ticks(k).foreach(r => due(idOf(r)) = d)
            tickLog(k) = Map("due_ms" -> d, "sent_ms" -> sent)
          }
        }, "perfbench-generator")
        g.start()
        g.join()
        // every open-loop record flushes by count, timer or force
        awaitAll(keptFrom, openIds._2, Clock.nowMs() + 4 * TimeoutMs)
      }
      awaitIdle(s.query)
      ctx.sampleLiveHeap()

      val drain = tr.span("drain", root) { _ =>
        val added = Clock.nowMs()
        val off = RequestIngest.offsetOf(s.mem.addData(backlog.toSeq))
        awaitAll(openIds._2, gen.api.size, Clock.nowMs() + 60000)
        Map("add_ms" -> added, "offset" -> off, "rows" -> BacklogRecs)
      }
      awaitIdle(s.query)
      ctx.sampleLiveHeap()
      val progress = Progress.of(s.query)
      tr.detach()
      stop(s)

      val packets = mutable.ArrayBuffer.empty[Seen]
      s.observer.packets.forEach(p => packets += p)
      val check = tr.span("check", root) { _ => checkPackets(packets.toSeq, gen.api, keptFrom) }
      val (lo, hi) = openIds
      val firstSeen = Array.fill(gen.api.size)(Double.NaN)
      packets.foreach(p => p.ids.foreach { i =>
        if (i < firstSeen.length && !(firstSeen(i) <= p.seenMs)) firstSeen(i) = p.seenMs
      })
      val lat = (lo until hi).filter(i => inDomain(i) && !firstSeen(i).isNaN)
        .map(i => firstSeen(i) - due(i))
      Map("latencies_ms" -> lat, "ticks" -> tickLog.toSeq, "drain" -> drain,
        "progress" -> progress, "check" -> check, "timeout_ms" -> TimeoutMs,
        "packets" -> packets.map { p =>
          val items = p.ids.filter(i => i >= lo && i < hi)
          Map("seen_ms" -> p.seenMs, "reason" -> p.reason, "size" -> p.size,
            "open_loop" -> (items.length == p.ids.length && items.nonEmpty),
            "first_due_ms" -> (if (items.isEmpty) None else Some(items.map(due).min)))
        })
    }
  }

  /** Every in-domain distinct record in exactly one packet, no
    * out-of-domain record emitted, (apiType, seq) unique, count packets
    * exactly full and no packet over the batch size. */
  def checkPackets(packets: Seq[Seen], api: collection.IndexedSeq[Int],
      from: Int): Map[String, Any] = {
    val count = new Array[Int](api.size)
    val bad = mutable.Set.empty[Int]
    val idents = mutable.Map.empty[(Int, Long), Int]
    packets.foreach { p =>
      idents((p.apiType, p.seq)) = idents.getOrElse((p.apiType, p.seq), 0) + 1
      val ok = p.size == p.ids.length && p.size <= BatchSize &&
        (p.reason != "count" || p.size == BatchSize) &&
        Set("count", "timeout", "force")(p.reason) &&
        p.ids.forall(i => i < api.size && api(i) == p.apiType)
      p.ids.foreach { i =>
        if (i < count.length) count(i) += 1
        if (!ok) bad += i
      }
    }
    val ids = from until api.size
    val inDom = (i: Int) => InvoiceModel.ApiTypes.contains(api(i))
    val missing = ids.count(i => inDom(i) && count(i) == 0)
    val dup = ids.count(i => inDom(i) && count(i) > 1)
    val leaked = ids.count(i => !inDom(i) && count(i) > 0)
    val dupIdent = idents.values.count(_ > 1)
    val failed = ids.count(i => (inDom(i) && count(i) != 1) || (!inDom(i) && count(i) > 0) || bad(i))
    Map("attempted" -> ids.size, "failed" -> (failed + dupIdent), "missing" -> missing,
      "duplicated" -> dup, "out_of_domain_emitted" -> leaked,
      "bad_packet_records" -> bad.size, "duplicate_packet_ids" -> dupIdent,
      "packets" -> packets.size)
  }
}
