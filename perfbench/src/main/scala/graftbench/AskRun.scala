package graftbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.engine.{Answer, GraftConfig, GraftSession, LlmClient, Prompts, SqlGuard}

/** One scripted question: the SQL the model answers first, the corrected
  * SQL it answers when the engine feeds an error back, and the expected
  * answer text. */
final case class Question(id: String, text: String, first: String,
    fix: Option[String], expect: String, retries: Int)

/** The benchmark's LlmClient: maps each prompt to its scripted response.
  * A prompt belongs to the question whose text it contains, and is a
  * correction request when it quotes that question's first SQL. */
final class ScriptedLlm(questions: Seq[Question], spans: Spans) extends LlmClient {
  var calls = 0L
  var nanos = 0L
  var promptChars = 0L
  /** The traced ask span LLM calls are recorded under, if any. */
  var parent: Option[Int] = None

  override def predict(prompt: String): String = synchronized {
    val t0 = spans.now()
    val q = questions.find(q => prompt.contains(q.text)).getOrElse(
      throw new IllegalArgumentException("prompt matches no scripted question"))
    val sql = if (prompt.contains(q.first)) q.fix.getOrElse(q.first) else q.first
    val t1 = spans.now()
    calls += 1
    promptChars += prompt.length
    nanos += t1 - t0
    parent.foreach(p => spans.add(p, "engine.llm", t0, t1,
      Map("prompt_chars" -> prompt.length)))
    s"```sql\n$sql\n```"
  }
}

/** The `ask` workload: scripted `GraftSession.askNamed` sessions over bound
  * tables. Every pass starts a new session on an empty file-backed cache;
  * a question's first asking in a pass is a miss, its second a hit. Pass 0
  * is the untimed warm-up. In the traced run, odd passes are traced and even
  * passes are not (at least three measured passes, so the traced passes 1
  * and 3 straddle the untraced pass 2), which prices the tracing; after
  * each traced ask, its layers are probed outside the
  * ask's timing: `Prompts.describe` on the same tables with the session's
  * config, `SqlGuard.check` on the answer's SQL, and the answer query. */
final class AskRun(spark: SparkSession, data: String, work: String,
    script: JsonNode, listener: Option[LayerListener], spans: Spans) {

  private val tableNames = Main.strings(script.get("tables"))
  private val questions = script.get("questions").properties.asScala.map { e =>
    val q = e.getValue
    Question(e.getKey, q.get("text").asText, q.get("first").asText,
      Option(q.get("fix")).filterNot(_.isNull).map(_.asText),
      q.get("expect").asText, q.get("retries").asInt)
  }.map(q => q.id -> q).toMap
  private val llm = new ScriptedLlm(questions.values.toSeq, spans)

  def run(seconds: Double, minPasses: Int, warmup: Int, cutoffNanos: Long,
      emit: Sample => Unit): Double = {
    var pass = -1
    var session: GraftSession = null
    val seen = mutable.Set.empty[String]
    val passes = if (listener.isDefined) minPasses max 3 else minPasses
    val all = Main.passes(script.get("passes")).iterator
    Measure.passes(all, seconds, passes, cutoffNanos, warmup) { (id, n) =>
      if (n != pass) {
        pass = n
        seen.clear()
        val cache = Paths.get(work, s"ask-cache-$n.json").toString
        session = new GraftSession(spark, llm, GraftConfig(cachePath = Some(cache)))
      }
      val kind = if (seen.add(id)) "miss" else "hit"
      val s = ask(session, questions(id), kind, listener.isDefined && n % 2 == 1)
      emit(s.copy(extra = s.extra + ("pass" -> n)))
    }
  }

  private def check(q: Question, kind: String)(a: Answer): Option[String] =
    a.error.map(e => s"error ${e.message.linesIterator.take(1).mkString}")
      .orElse(if (a.text != q.expect) Some(s"text ${a.text} != ${q.expect}") else None)
      .orElse {
        val want = if (kind == "miss") q.retries else 0
        if (a.attempts.size != want) Some(s"${a.attempts.size} retries, expected $want")
        else None
      }

  private def ask(session: GraftSession, q: Question, kind: String,
      traced: Boolean): Sample = {
    val tables = tableNames.map(t => t -> Tables(spark, data, t))
    val (calls0, nanos0, chars0) = (llm.calls, llm.nanos, llm.promptChars)
    val label = s"ask:${spans.nextId}"
    val askSpan = if (traced) Some(spans.open(0, s"ask:${q.id}", spans.now())) else None
    llm.parent = askSpan
    val t0 = spans.now()
    def asked = Measure(q.id, kind)(session.askNamed(tables, q.text))(check(q, kind))
    val (s, answer) = if (listener.isDefined) LayerListener.label(spark, label)(asked) else asked
    val t1 = spans.now()
    llm.parent = None
    val llmS = (llm.nanos - nanos0) / 1e9
    var extra = Map[String, Any](
      "llm_calls" -> (llm.calls - calls0),
      "attempts" -> answer.map(_.attempts.size))
    for (l <- listener) {
      val c = l.take(spark, label)
      extra ++= Map("jobs" -> c.jobs)
      for (span <- askSpan; a <- answer; sql <- a.sql if s.ok) {
        extra ++= Counters.fields(c) ++ probe(l, span, sql, session.config) ++ Map(
          "engine.llm_s" -> llmS,
          "engine.prompt_chars" -> (llm.promptChars - chars0),
          "engine.ask_self_s" -> ((t1 - t0) / 1e9 - llmS),
          "wall_s" -> (t1 - t0) / 1e9)
      }
    }
    askSpan.foreach(id => spans.close(id, t1, Map("kind" -> kind, "error" -> s.error,
      "jobs" -> extra.getOrElse("jobs", 0L))))
    s.copy(traced = askSpan.isDefined, extra = extra)
  }

  /** The engine layers of one answered ask, each called the way the ask
    * calls it, timed and recorded as spans after the ask. */
  private def probe(l: LayerListener, askSpan: Int, sql: String,
      config: GraftConfig): Map[String, Any] = {
    def timed[A](name: String)(body: => A): (Double, Long) = {
      val label = s"$askSpan:$name"
      val t0 = spans.now()
      LayerListener.label(spark, label)(body)
      val t1 = spans.now()
      val jobs = l.take(spark, label).jobs
      spans.add(0, name, t0, t1, Map("ask" -> askSpan, "jobs" -> jobs))
      ((t1 - t0) / 1e9, jobs)
    }
    val (describeS, describeJobs) = timed("engine.describe") {
      tableNames.foreach(t => Prompts.describe(t, Tables(spark, data, t),
        anonymize = config.anonymizeHead, exactRowCount = config.exactRowCount))
    }
    val (guardS, _) = timed("engine.guard") {
      SqlGuard.check(spark, sql, tableNames.toSet, config.functionAllowlist)
    }
    val (answerS, _) = timed("engine.answer")(spark.sql(sql).limit(21).collect())
    Map("engine.describe_s" -> describeS, "engine.describe_jobs" -> describeJobs,
      "engine.guard_s" -> guardS, "engine.answer_s" -> answerS)
  }
}
