package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model.InvoiceModel
import graft.streaming.RequestPipeline

/** `request_ingest`: `RequestPipeline.run` fed by an open-loop generator
  * (one thread, a tick every 100 ms, 4000 element rows/s), then a fixed
  * pre-loaded backlog drained as fast as the pipeline can. */
object RequestIngest {
  val TickMs = 100.0
  val RowsPerTick = 400
  /** Rows each set-up pushes through its new query before the open loop,
    * in one micro-batch: the JIT keeps speeding the batch cycle up for
    * tens of thousands of rows, and the open loop should see the
    * pipeline warm. */
  val WarmRows = 40000
  /** Then this many open-loop-sized micro-batches, one after another:
    * the per-batch path (planning, sink set-up, commit) of a new query
    * keeps getting cheaper for its first batches, and one large batch
    * exercises it only once. */
  val WarmTicks = 3
  val BacklogRows = 300000

  /** One `inv_pack` element. Absent fields are simply not written. */
  final case class Elem(id: Long, pos: Int, api: Option[Int], sid: Option[String],
      stax: Option[String], syncid: Option[String], nestSid: Boolean,
      nestStax: Boolean, nestSync: Boolean) {
    def error: Option[String] =
      if (stax.isEmpty) Some("stax is null")
      else if (sid.isEmpty) Some("sid is null")
      else if (api.isEmpty) Some("api_type is null")
      else None
    def json: String = {
      def f(k: String, v: Option[String]) = v.map(x => s""""$k":"$x"""")
      val top = Seq(api.map(a => s""""api_type":$a"""),
        f("sid", sid.filterNot(_ => nestSid)),
        f("syncid", syncid.filterNot(_ => nestSync)),
        f("stax", stax.filterNot(_ => nestStax))).flatten
      val inv = Seq(f("sid", sid.filter(_ => nestSid)),
        f("stax", stax.filter(_ => nestStax)),
        f("syncid", syncid.filter(_ => nestSync)),
        f("body", Some(s"e$id"))).flatten
      (top :+ inv.mkString("\"inv\":{", ",", "}")).mkString("{", ",", "}")
    }
  }

  /** Seeded packet generator: sizes 1-50 skewed small, ~10% rejects split
    * over the three reasons, nested `inv.*` fallbacks and missing syncids. */
  final class Gen(seed: Long) {
    private val rng = new java.util.Random(seed)
    val elems = mutable.ArrayBuffer.empty[Elem]
    private val ApiCdf = Seq(10 -> .6, 11 -> .85, 12 -> .95, 13 -> .98, 14 -> 1.0)

    private def elem(pos: Int): Elem = {
      val id = elems.size.toLong
      val r = rng.nextDouble()
      val reject = if (r < 0.10) (r / 0.10 * 3).toInt else -1
      val u = rng.nextDouble()
      val e = Elem(id, pos,
        api = if (reject == 2) None else Some(ApiCdf.find(u <= _._2).get._1),
        sid = if (reject == 1) None else Some(s"S$id"),
        stax = if (reject == 0) None else Some(s"T${rng.nextInt(997)}"),
        syncid = if (rng.nextDouble() < 0.2) None else Some(s"Y$id"),
        nestSid = rng.nextDouble() < 0.3, nestStax = rng.nextDouble() < 0.3,
        nestSync = rng.nextDouble() < 0.1)
      elems += e
      e
    }

    /** Packets holding exactly `rows` elements in total. */
    def packets(rows: Int): Array[String] = {
      val out = mutable.ArrayBuffer.empty[String]
      var left = rows
      while (left > 0) {
        val size = math.min(left, 1 + (49 * math.pow(rng.nextDouble(), 2.5)).toInt)
        out += (0 until size).map(p => elem(p).json).mkString("{\"inv_pack\":[", ",", "]}")
        left -= size
      }
      out.toArray
    }
  }

  final case class Stream(spark: SparkSession, mem: MemoryStream[String],
      query: StreamingQuery, out: String)

  def start(ctx: Ctx, cores: Int, tag: String): Stream = {
    val spark = ctx.session(cores, tag)
    val mem = MemoryStream[String](spark, cores)(org.apache.spark.sql.Encoders.STRING)
    val out = ctx.dir(s"out/$tag")
    val q = RequestPipeline.run(mem.toDF(), out, ctx.dir(s"checkpoint/$tag"))
    Stream(spark, mem, q, out)
  }

  def stop(s: Stream): Unit = { s.query.stop(); s.spark.stop() }

  def offsetOf(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o.json().toLong

  def run(ctx: Ctx): Map[String, Any] = {
    val gen = new Gen(ctx.seed)
    val warm = (0 until Main.Setups).map(_ =>
      (gen.packets(WarmRows), (0 until WarmTicks).map(_ => gen.packets(RowsPerTick))))
    val nTicks = math.max(1, (ctx.seconds * 1000 / TickMs).round.toInt)
    val ticks = (0 until nTicks).map(_ => gen.packets(RowsPerTick))
    val backlog = gen.packets(BacklogRows)
    val keptFrom = gen.elems.size - BacklogRows - nTicks * RowsPerTick -
      WarmRows - WarmTicks * RowsPerTick
    val tr = ctx.tracer

    tr.span("request_ingest", -1) { root =>
      val s = tr.span("setup", root) { setup =>
        ctx.setUp(setup) { (i, sp) =>
          val s = tr.span("start", sp) { _ => start(ctx, Main.Cores, s"setup$i") }
          tr.span("warm", sp) { _ => warmUp(s, warm(i)) }
          s
        }(stop)
      }
      ctx.sampleLiveHeap()

      // open loop: one generator thread keeps the schedule however slow
      // the pipeline is; each tick records when it was due and when sent
      val tickLog = new Array[Map[String, Any]](nTicks)
      tr.span("open_loop", root) { _ =>
        val t0 = Clock.nowMs() + TickMs
        val g = new Thread(() => {
          for (k <- 0 until nTicks) {
            val due = t0 + k * TickMs
            Clock.sleepUntilMs(due)
            val sent = Clock.nowMs()
            val off = offsetOf(s.mem.addData(ticks(k).toSeq))
            tickLog(k) = Map("due_ms" -> due, "sent_ms" -> sent, "offset" -> off,
              "rows" -> RowsPerTick, "packets" -> ticks(k).length)
          }
        }, "perfbench-generator")
        g.start()
        g.join()
        s.query.processAllAvailable()
      }
      ctx.sampleLiveHeap()

      val drain = tr.span("drain", root) { _ => drainBacklog(s, backlog) }
      ctx.sampleLiveHeap()
      val progress = Progress.of(s.query)
      tr.detach()

      val check = tr.span("check", root) { _ =>
        Check.request(s.spark, s.out, gen.elems.slice(keptFrom, gen.elems.size).toIndexedSeq)
      }
      stop(s)

      // single-core baseline: the same backlog drained at local[1]
      val drain1 = if (!tr.enabled) None else tr.span("drain_1core", root) { _ =>
        val s1 = start(ctx, 1, "single_core")
        warmUp(s1, warm(0))
        val d = drainBacklog(s1, backlog)
        val p = Progress.of(s1.query)
        stop(s1)
        Some(d ++ Map("progress" -> p))
      }
      Map("ticks" -> tickLog.toSeq, "drain" -> drain,
        "progress" -> progress, "check" -> check, "drain_1core" -> drain1)
    }
  }

  private def warmUp(s: Stream, warm: (Array[String], Seq[Array[String]])): Unit =
    (warm._1 +: warm._2).foreach { packets =>
      s.mem.addData(packets.toSeq)
      s.query.processAllAvailable()
    }

  private def drainBacklog(s: Stream, backlog: Array[String]): Map[String, Any] = {
    val added = Clock.nowMs()
    val off = offsetOf(s.mem.addData(backlog.toSeq))
    s.query.processAllAvailable()
    Map("add_ms" -> added, "offset" -> off, "rows" -> BacklogRows)
  }
}

/** Streaming progress as plain records (the same data a
  * `StreamingQueryListener` receives). */
object Progress {
  def of(q: StreamingQuery): Seq[Map[String, Any]] = q.recentProgress.toSeq.map { p =>
    val src = p.sources.headOption
    val st = p.stateOperators.headOption
    def off(s: String): Any = Option(s).map(_.trim.toLong).getOrElse(-1L)
    Map("batch_id" -> p.batchId,
      "ts_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "input_rows" -> p.numInputRows,
      "start_offset" -> src.map(x => off(x.startOffset)).getOrElse(-1L),
      "end_offset" -> src.map(x => off(x.endOffset)).getOrElse(-1L),
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
      "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
      "state_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
      "state_update_ms" -> st.map(_.allUpdatesTimeMs).getOrElse(0L),
      "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L))
  }
}

/** Output checks; each returns the number of elements attempted and the
  * number whose output was missing, duplicated or wrong. */
object Check {
  import RequestIngest.Elem

  def request(spark: SparkSession, out: String, elems: IndexedSeq[Elem]): Map[String, Any] = {
    val base = elems.head.id
    def idx(body: String): Int =
      if (body == null || !body.startsWith("e")) -1
      else (body.drop(1).toLong - base).toInt
    val seen = new Array[Int](elems.size)
    val wrong = mutable.Set.empty[Int]
    var unexpected = 0L
    val problems = mutable.ArrayBuffer.empty[String]

    val expectedCols = InvoiceModel.asyncInvInSchema.fields.drop(1).map(f => f.name -> f.dataType)
    val in = spark.read.parquet(s"$out/async_inv_in")
    val schemaOk = in.schema.fields.map(f => f.name -> f.dataType).toSeq == expectedCols.toSeq
    if (!schemaOk) problems += s"async_inv_in schema ${in.schema.simpleString}"
    val nullCols = Seq("res_type", "fpt_einvoice_res_code", "fpt_einvoice_res_msg",
      "fpt_einvoice_res_json", "updated_date", "callback_res_code",
      "callback_res_msg", "callback_res_json", "process_kafka")
    val generated = mutable.Map.empty[String, Int]
    // a valid element always carries sid = "S<id>"; its re-serialized
    // `inv` must still hold the element's own body
    val id = substring(col("sid"), 2, 20)
    collect(in.select(concat(lit("e"), id), col("tax_schema"),
        col("sid"), col("syncid"), col("api_type").cast("int"),
        col("group_id").cast("int"), col("retry").cast("int"), col("state").cast("int"),
        col("created_date").isNotNull && instr(col("inv"), concat(lit("\"body\":\"e"), id, lit("\""))) > 0,
        nullCols.map(col(_).isNull).reduce(_ && _))).foreach { r =>
      val i = idx(r.getString(0))
      if (i < 0 || i >= elems.size || elems(i).error.nonEmpty) unexpected += 1
      else {
        val e = elems(i)
        seen(i) += 1
        val syncOk = e.syncid match {
          case Some(v) => v == r.getString(3)
          case None =>
            val g = r.getString(3)
            g != null && { generated(g) = generated.getOrElse(g, 0) + 1; true }
        }
        val ok = schemaOk && syncOk && e.stax.contains(r.getString(1)) &&
          e.sid.contains(r.getString(2)) && !r.isNullAt(4) && e.api.contains(r.getInt(4)) &&
          r.getInt(5) == e.pos % InvoiceModel.GroupIdBuckets && r.getInt(6) == 0 &&
          r.getInt(7) == 0 && r.getBoolean(8) && r.getBoolean(9)
        if (!ok) wrong += i
      }
    }
    val retry = spark.read.parquet(s"$out/invoice_retry")
    collect(retry.select(get_json_object(col("payload"), "$.inv.body"),
        col("error_message"), col("sid"), col("syncid"), col("retry_count").cast("int"),
        col("state"), col("job"), col("next_retry_secs"))).foreach { r =>
      val i = idx(r.getString(0))
      if (i < 0 || i >= elems.size || elems(i).error.isEmpty) unexpected += 1
      else {
        val e = elems(i)
        seen(i) += 1
        val ok = e.error.contains(r.getString(1)) &&
          e.sid.forall(_ == r.getString(2)) && r.getString(3) != null &&
          e.syncid.forall(_ == r.getString(3)) && r.getInt(4) == 0 &&
          r.getString(5) == "PENDING" && r.getString(6) == "REQUEST" &&
          r.getLong(7) == InvoiceModel.RetryBaseSeconds
        if (!ok) wrong += i
      }
    }
    val dupUuid = generated.values.count(_ > 1)
    val bad = seen.indices.count(i => seen(i) != 1 || wrong(i))
    Map("attempted" -> elems.size, "failed" -> (bad + unexpected + dupUuid),
      "missing" -> seen.count(_ == 0), "duplicated" -> seen.count(_ > 1),
      "wrong" -> wrong.size, "unexpected" -> unexpected,
      "duplicate_uuids" -> dupUuid, "problems" -> problems.toSeq)
  }

  private def collect(df: DataFrame): Array[org.apache.spark.sql.Row] = df.collect()
}
