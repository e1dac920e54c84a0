package graftbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** What a traced operation's timed interval returns: its digest, the
  * analysis phase time, and the span boundaries. */
final case class Phases(digest: Digest.Result, analyzeS: Double, t: Seq[Long])

/** The ops workloads: each operation builds one registered query through
  * `graft.SparkEntry.queries` and executes it once, digesting its rows.
  *
  * Untraced, an operation is timed as a whole. Traced, it is split into
  * spans: construct (the query function; the Dataset is analyzed eagerly
  * there, so the analysis phase is read from its `QueryExecution.tracker`),
  * optimize (`optimizedPlan`), plan (`executedPlan`) and execute (the digest
  * over `toRdd`). Each traced slot also runs the operation once untraced,
  * alternating which goes first, so the pair prices the tracing and the two
  * job counts must agree. */
final class OpsRun(spark: SparkSession, data: String, expected: JsonNode,
    listener: Option[LayerListener], spans: Spans) {

  private val queries = graft.SparkEntry.queries

  def run(passes: Seq[Seq[String]], seconds: Double, minPasses: Int, warmup: Int,
      cutoffNanos: Long, emit: Sample => Unit): Double = {
    var slot = 0
    Measure.passes(passes.iterator, seconds, minPasses, cutoffNanos, warmup) { (q, n) =>
      def emitIn(s: Sample): Unit = emit(s.copy(extra = s.extra + ("pass" -> n)))
      listener match {
        case None => emitIn(plain(q))
        case Some(l) =>
          val order = if (slot % 2 == 0) Seq(false, true) else Seq(true, false)
          order.foreach(t => emitIn(if (t) traced(q, l) else counted(q, l)))
      }
      slot += 1
    }
  }

  private def check(q: String)(d: Digest.Result): Option[String] =
    Option(expected.get(q)) match {
      case None => Some("no expected output recorded")
      case Some(e) =>
        val cols = Main.strings(e.get("columns"))
        val rows = e.get("rows").asLong
        val digest = e.get("digest").asText
        if (cols != d.columns) Some(s"columns ${d.columns.mkString(",")} != ${cols.mkString(",")}")
        else if (rows != d.rows) Some(s"rows ${d.rows} != $rows")
        else if (digest != d.hex) Some(s"digest ${d.hex} != $digest")
        else None
    }

  private def plain(q: String): Sample = {
    Harness.release(spark)
    Measure(q, "op")(Digest.of(queries(q)(spark, data)))(check(q))._1
  }

  /** The untraced half of a traced slot: timed like `plain`, with its job
    * count read after the timed interval. */
  private def counted(q: String, l: LayerListener): Sample = {
    val label = s"plain:${spans.nextId}"
    val s = LayerListener.label(spark, label)(plain(q))
    s.copy(extra = Map("jobs" -> l.take(spark, label).jobs))
  }

  private def traced(q: String, l: LayerListener): Sample = {
    Harness.release(spark)
    val op = spans.open(0, q, spans.now())
    val construct = s"$op:construct"
    val execute = s"$op:execute"
    val (s, r) = Measure(q, "op") {
      val t0 = spans.now()
      val df = LayerListener.label(spark, construct)(queries(q)(spark, data))
      val t1 = spans.now()
      val qe = df.queryExecution
      val analyze = Option(qe.tracker.phases.getOrElse("analysis", null))
        .map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
      LayerListener.label(spark, execute) {
        qe.optimizedPlan
        val t2 = spans.now()
        qe.executedPlan
        val t3 = spans.now()
        val d = Digest.of(df)
        Phases(d, analyze, Seq(t0, t1, t2, t3, spans.now()))
      }
    }(p => check(q)(p.digest))
    val cc = l.take(spark, construct)
    val ec = l.take(spark, execute)
    val all = cc + ec
    val extra = r.map { p =>
      val Seq(t0, t1, t2, t3, t4) = p.t
      spans.add(op, "ops.construct", t0, t1, Map("jobs" -> cc.jobs))
      spans.add(op, "catalyst.optimize", t1, t2)
      spans.add(op, "catalyst.plan", t2, t3)
      spans.add(op, "exec.execute", t3, t4, Map("jobs" -> ec.jobs))
      def sec(a: Long, b: Long) = (b - a) / 1e9
      Map[String, Any](
        "ops.construct_s" -> sec(t0, t1),
        "catalyst.analyze_s" -> p.analyzeS,
        "catalyst.optimize_s" -> sec(t1, t2),
        "catalyst.plan_s" -> sec(t2, t3),
        "exec.execute_s" -> sec(t3, t4),
        "wall_s" -> sec(t0, t4))
    }.getOrElse(Map.empty)
    spans.close(op, spans.now(), Map("error" -> s.error, "jobs" -> all.jobs))
    s.copy(traced = true, extra = extra ++ Map("ops.construct_jobs" -> cc.jobs) ++
      Counters.fields(all))
  }
}
