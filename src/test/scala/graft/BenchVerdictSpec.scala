package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench.contentionVerdict — the semantics the r10 deliberate-load
  * experiments validated empirically (DESIGN.md): one spike threshold
  * (3× main-pass canary min) shared with the heal flagging and
  * bench_diff.py, the spike count over POST-heal per-query canaries, and
  * a sustained-load criterion healing cannot launder. */
class BenchVerdictSpec extends AnyFunSuite {

  private val flat = Seq.fill(100)(0.2)

  test("flat canaries, clean rows: contended=0, threshold = 3x min") {
    val rows = Seq.fill(100)(0.21)
    val (c, s, t) = Bench.contentionVerdict(flat, rows)
    assert(c == 0 && s == 0)
    assert(math.abs(t - 0.6) < 1e-9)
  }

  test("transient burst fully healed: contended=0 even though the main " +
      "series kept its spikes") {
    // 10% of main-pass canaries spiked (a 3-minute burst), but every
    // affected row's retry canary came back clean — the exact case the
    // pre-r10 verdict mislabeled permanently contaminated
    val main = Seq.fill(90)(0.2) ++ Seq.fill(10)(5.0)
    val postHeal = Seq.fill(100)(0.22) // all retries clean
    val (c, s, _) = Bench.contentionVerdict(main, postHeal)
    assert(s == 0, "healed rows must not count as spiked")
    assert(c == 0, "a fully-healed transient burst must read clean")
  }

  test("box loaded the whole time: retry canaries stay high, contended=1") {
    val main = Seq.fill(80)(0.2) ++ Seq.fill(20)(5.0)
    // retries were as dirty as the originals on 20 rows
    val postHeal = Seq.fill(80)(0.22) ++ Seq.fill(20)(4.8)
    val (c, s, _) = Bench.contentionVerdict(main, postHeal)
    assert(s == 20)
    assert(c == 1, "still-dirty rows past 5% must stay contended")
  }

  test("sustained load trips on the main-pass median alone — healing " +
      "cannot launder it") {
    // median 0.5 > 2x min 0.2: every individual row may look sub-spike
    // (no sample beyond 3x min) yet the box was slow throughout
    val main = Seq.fill(40)(0.2) ++ Seq.fill(60)(0.5)
    val postHeal = Seq.fill(100)(0.21) // nothing flagged, nothing healed
    val (c, s, _) = Bench.contentionVerdict(main, postHeal)
    assert(s == 0)
    assert(c == 1, "median > 2x min is contended regardless of spikes")
  }

  test("boundary: exactly 5% still-spiked rows is NOT contended; one " +
      "more row is") {
    val main = Seq.fill(100)(0.2)
    val at5 = Seq.fill(95)(0.3) ++ Seq.fill(5)(1.0)
    assert(Bench.contentionVerdict(main, at5)._1 == 0)
    val over5 = Seq.fill(94)(0.3) ++ Seq.fill(6)(1.0)
    assert(Bench.contentionVerdict(main, over5)._1 == 1)
  }

  test("degenerate inputs: empty series and empty rows stay clean " +
      "instead of dividing by zero") {
    assert(Bench.contentionVerdict(Nil, Nil) == ((0, 0, 0.0)))
    assert(Bench.contentionVerdict(flat, Nil)._1 == 0)
    assert(Bench.contentionVerdict(Nil, Seq(9.9))._1 == 0)
  }

  // ---- renderLine: the tail-survivable output layout (r11 verdict task
  // 2 — every driver BENCH_r*.json so far kept only the last ~2,000
  // chars of the line, losing the verdict fields that sat at the head)

  private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** 231-query-shaped fixture: enough rows that the map alone overflows
    * a 2,000-char tail window, like the real suite. */
  private def bigLine: String = {
    val results = (1 to 231).map(i => (f"q_fixture_$i%03d", 0.5 + i * 0.01))
    val canaries = Seq.fill(231)(0.2)
    val cb = results.map { case (k, _) => (k, 0.2) }
    Bench.renderLine("/root/testdata/sf0.1", results, canaries, canaries,
      cb, healed = 0)
  }

  test("renderLine emits one valid JSON line with the contract fields") {
    val line = bigLine
    assert(!line.contains("\n"))
    val root = mapper.readTree(line)
    assert(root.get("metric").asText() == "total")
    assert(root.get("unit").asText() == "sec")
    assert(root.get("queries").size() == 231)
    assert(root.get("load_canary").get("contended").asInt() == 0)
    assert(math.abs(root.get("value").asDouble()
      - root.get("summary").get("total").asDouble()) < 1e-9)
  }

  test("any 2,000-char tail window preserves a complete, parseable " +
      "summary verdict") {
    val line = bigLine
    assert(line.length > 4000, "fixture must actually overflow the window")
    val tail = line.takeRight(2000)
    val idx = tail.lastIndexOf("\"summary\":")
    assert(idx >= 0, "summary must sit inside the last 2,000 chars")
    val summary = mapper.readTree(
      tail.substring(idx + "\"summary\":".length).stripSuffix("}"))
    assert(summary.get("rows").asInt() == 231)
    assert(summary.get("contended").asInt() == 0)
    assert(summary.get("healed").asInt() == 0)
    assert(summary.get("spike_threshold").asDouble() > 0)
    assert(summary.get("full_path").asText() == "BENCH_FULL.json")
  }

  test("the summary digest is the sha256 prefix of the exact queries-map " +
      "text, so a kept full artifact is authenticatable from the tail") {
    val line = bigLine
    val qStart = line.indexOf("\"queries\":") + "\"queries\":".length
    val qEnd = line.indexOf("}", qStart) + 1
    val qs = line.substring(qStart, qEnd)
    val want = mapper.readTree(line).get("summary")
      .get("queries_sha256_16").asText()
    val got = java.security.MessageDigest.getInstance("SHA-256")
      .digest(qs.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    assert(got == want)
  }

  test("a row that throws is never timed: error marker, no total") {
    var runs = 0
    assert(Bench.minTime(2, ())(runs += 1).exists(_ >= 0) && runs == 2)
    assert(Bench.minTime(2, ())(throw new RuntimeException("boom")).isEmpty)
    // failing on the second run alone still fails the row
    runs = 0
    assert(Bench.minTime(2, ()) {
      runs += 1
      if (runs == 2) throw new IllegalStateException("flaky")
    }.isEmpty)
    var prepared = 0
    Bench.minTime(3, prepared += 1)(())
    assert(prepared == 3, "prepare runs before every timed run")

    val line = Bench.renderLine("sf0.1",
      Seq("q_a" -> 1.5, "q_b" -> 2.0), Seq(0.2, 0.2, 0.2), Seq(0.2, 0.2, 0.2),
      Seq("q_a" -> 0.2, "q_b" -> 0.2, "q_boom" -> 0.2), healed = 0,
      failed = Seq("q_boom"))
    val root = mapper.readTree(line)
    assert(root.get("queries").get("q_boom").asText() == "error")
    assert(root.get("queries").get("q_a").asDouble() == 1.5)
    val summary = root.get("summary")
    assert(root.get("value").isNull && summary.get("total").isNull,
      "a line with a failed row publishes no total")
    assert(summary.get("failed").asInt() == 1 && summary.get("rows").asInt() == 3)
    // without the failure the same rows publish their sum
    val clean = mapper.readTree(Bench.renderLine("sf0.1",
      Seq("q_a" -> 1.5, "q_b" -> 2.0), Seq(0.2, 0.2, 0.2), Seq(0.2, 0.2, 0.2),
      Seq("q_a" -> 0.2, "q_b" -> 0.2), healed = 0))
    assert(math.abs(clean.get("value").asDouble() - 3.5) < 1e-9)
    assert(clean.get("summary").get("failed").asInt() == 0)
  }
}
