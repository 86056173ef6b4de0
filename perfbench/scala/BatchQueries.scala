package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** `batch_queries`: `SparkEntry.queries` over generated tables. The
  * query sets come from the command line (`run.py` owns them).
  *
  * Reads: an untimed pass writes every result for the oracle compare
  * and warms the JVM; timed passes then run in a seed-shuffled order
  * while another pass still fits in `--seconds` (at least one).
  *
  * Lifecycle verbs: each is called once, after the reads, because one
  * call costs as much as the whole reads half. The eager call (`verb`)
  * is timed apart from materializing its result on the noop sink
  * (`serve`); the result is then written again, untimed, for the
  * oracle compare. */
object BatchQueries {
  private def dropCaches(spark: SparkSession): Unit = {
    graft.operators.CacheScope.drain()
    spark.sharedState.cacheManager.clearCache()
  }

  def run(ctx: Ctx, reads: Seq[String], lifecycle: Seq[String]): Map[String, Any] = {
    val registry = SparkEntry.queries
    val tr = ctx.tracer
    val errors = scala.collection.mutable.Map.empty[String, String]
    def fn(q: String): (SparkSession, String) => DataFrame = registry(q)

    tr.span("batch_queries", -1) { root =>
      val spark = tr.span("setup", root) { setup =>
        ctx.setUp(setup) { (i, sp) =>
          val s = tr.span("start", sp) { _ => ctx.session(Main.Cores, s"setup$i") }
          tr.span("warm", sp) { _ =>
            fn("t3_validate")(s, ctx.data).write.mode("overwrite").format("noop").save()
            dropCaches(s)
          }
          s
        }(_.stop())
      }
      ctx.sampleLiveHeap()
      val results = ctx.dir("results")
      def save(q: String, df: DataFrame): Unit =
        df.coalesce(1).write.mode("overwrite").parquet(s"$results/$q")

      tr.span("check_pass", root) { pass =>
        reads.foreach { q =>
          tr.span(q, pass, "query" -> q) { _ =>
            try save(q, fn(q)(spark, ctx.data))
            catch { case e: Throwable => errors(q) = s"check: ${e.getClass.getSimpleName}" }
          }
          dropCaches(spark)
        }
      }
      ctx.sampleLiveHeap()

      /** One timed call: the eager part, then the noop materialization. */
      def timed(q: String, parent: Int, pass: Int): Option[DataFrame] = {
        dropCaches(spark)
        val half = if (lifecycle.contains(q)) "lifecycle" else "reads"
        tr.span(q, parent, "query" -> q, "pass" -> pass, "half" -> half) { call =>
          try {
            val df = tr.span("verb", call) { _ => fn(q)(spark, ctx.data) }
            tr.span("serve", call) { _ => df.write.mode("overwrite").format("noop").save() }
            Some(df)
          } catch { case e: Throwable => errors(q) = s"timed: ${e.getClass.getSimpleName}"; None }
        }
      }
      val order = {
        val rng = new java.util.Random(ctx.seed)
        val a = scala.collection.mutable.ArrayBuffer.from(reads)
        for (i <- a.indices.reverse) {
          val j = rng.nextInt(i + 1)
          val t = a(i); a(i) = a(j); a(j) = t
        }
        a.toSeq
      }
      // passes repeat while another one still fits in --seconds
      val t0 = Clock.nowMs()
      var passes = 0
      var last = 0.0
      while (passes == 0 || Clock.nowMs() - t0 + last <= ctx.seconds * 1000) {
        val p0 = Clock.nowMs()
        tr.span("reads_pass", root, "pass" -> passes) { p => order.foreach(timed(_, p, passes)) }
        last = Clock.nowMs() - p0
        passes += 1
      }
      tr.span("lifecycle", root) { p =>
        lifecycle.foreach { q =>
          timed(q, p, 0).foreach { df =>
            tr.span("check_save", p, "query" -> q) { _ =>
              try save(q, df)
              catch { case e: Throwable => errors(q) = s"check: ${e.getClass.getSimpleName}" }
            }
          }
        }
      }
      dropCaches(spark)
      tr.detach()
      ctx.sampleLiveHeap()
      spark.stop()
      val oracles = SparkEntry.oracleSql
      Map("passes" -> passes, "errors" -> errors.toMap,
        "oracle_sql" -> (reads ++ lifecycle).flatMap(q => oracles.get(q).map(q -> _)).toMap)
    }
  }
}
