package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One benchmark run, driven by `run.py`: reads the plan it wrote (workload,
  * seeded schedule, expected outputs), sets the session up, runs the
  * plan's warm-up passes, measures whole passes of the closed loop for at
  * least the plan's seconds, and writes
  * every sample as JSON for `run.py` to turn into metrics.
  *
  *   java -cp <classpath> graftbench.Main <plan.json> <result.json>
  */
object Main {

  def main(args: Array[String]): Unit = {
    val plan = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(args(0))))
    val out = run(plan)
    Files.writeString(Paths.get(args(1)), Json.write(out))
  }

  def run(plan: JsonNode): Map[String, Any] = {
    val nproc = plan.get("nproc").asInt
    val work = plan.get("work").asText
    val data = plan.get("data").asText
    val traced = plan.get("trace").asBoolean

    // Set-up, several times: the first from JVM start, the rest on a warm
    // JVM after stopping the previous session; the last session is measured.
    // A set-up builds the session, installs graft, and reads every table
    // through `graft.Tables`, so its reader memo holds the same entries for
    // every measured iteration.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    val setups = (1 to plan.get("setups").asInt).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Harness.session(nproc, work)
      Harness.tables.foreach(_(spark, data))
      if (i == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3
      else (System.nanoTime() - t0) / 1e9
    }

    val listener = if (traced) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val spans = new Spans
    val seconds = plan.get("seconds").asDouble
    val minPasses = plan.get("min_passes").asInt
    val warmup = plan.get("warmup_passes").asInt
    val cutoff = System.nanoTime() + (plan.get("cutoff_s").asDouble * 1e9).toLong -
      (System.currentTimeMillis() - jvmStartMs) * 1000000L
    val samples = mutable.ArrayBuffer.empty[Sample]
    val elapsed = plan.get("workload").asText match {
      case "ask" =>
        new AskRun(spark, data, work, plan.get("ask"), listener, spans)
          .run(seconds, minPasses, warmup, cutoff, samples += _)
      case _ =>
        new OpsRun(spark, data, plan.get("expected"), listener, spans)
          .run(passes(plan.get("passes")), seconds, minPasses, warmup, cutoff,
            samples += _)
    }
    val spansFile = if (traced) {
      val f = Paths.get(work, "spans.jsonl")
      Files.writeString(f, spans.all.map(s => Json.write(Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++ s.attrs))
        .mkString("", "\n", "\n"))
      Some(f.toString)
    } else None
    val conf = Harness.effectiveConf(spark)
    spark.stop()
    Map(
      "nproc" -> nproc,
      "conf" -> conf,
      "setup_s" -> setups,
      "warmup_passes" -> warmup,
      "window_s" -> elapsed,
      "spans_file" -> spansFile,
      "samples" -> samples.map(s => Map(
        "op" -> s.op, "kind" -> s.kind, "latency_s" -> s.latencyS,
        "error" -> s.error, "traced" -> s.traced) ++ s.extra))
  }

  def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
  def passes(n: JsonNode): Seq[Seq[String]] = n.elements.asScala.map(strings).toSeq
}

/** Minimal JSON writer for the result file. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Writes `graft.SparkEntry.oracleSql` as JSON, for `tools/expected.py`:
  *
  *   java -cp <classpath> graftbench.OracleDump <out.json>
  */
object OracleDump {
  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(args(0)), Json.write(graft.SparkEntry.oracleSql))
}
