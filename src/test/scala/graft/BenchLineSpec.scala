package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** The bench line is the driver's ONLY view of per-round timing, and
  * it must land — parseable — inside the last 2000 chars of stdout.
  * This spec drives [[Bench.renderLine]] far past today's query
  * count so the ladder's overflow behavior is pinned before the
  * surface grows into it (r11 verdict #7).
  */
class BenchLineSpec extends AnyFunSuite {

  // the driver-side budget renderLine guards against: 2000-char
  // capture minus sbt's trailer/prefix
  private val Cap = 1908

  private def synth(n: Int, seed: Int): Map[String, Double] = {
    val rnd = new Random(seed)
    (1 to n).map { i =>
      // realistic mix: mostly sub-second, a heavy tail of fits
      val v = rnd.nextInt(10) match {
        case 0 => 1.0 + rnd.nextDouble() * 6.0
        case 1 | 2 => 0.5 + rnd.nextDouble()
        case _ => rnd.nextDouble() * 0.4
      }
      f"q${i}%d_synthetic_name" -> v
    }.toMap
  }

  private def parse(line: String) =
    org.json4s.jackson.JsonMethods.parse(line)

  test("emitted line fits the cap and parses at every surface size up to 300") {
    for (n <- Seq(100, 176, 235, 260, 300)) {
      val line = Bench.renderLine(synth(n, seed = n),
        Seq(0.11, 0.12, 0.1), "/root/testdata/sf0.1")
      assert(line.length <= Cap, s"n=$n length=${line.length}")
      val json = parse(line)
      val total = (json \ "value").values
      assert(total != null, s"n=$n: no total in $line")
    }
  }

  test("total survives even when every query is slow enough to defeat the ladder") {
    // 300 keys all >= 1 s: every minq rung keeps every key, so the
    // ladder must fall through to the map-less total line
    val slow = (1 to 300).map(i => s"q${i}_x" -> (1.5 + i % 3)).toMap
    val line = Bench.renderLine(slow, Seq(0.1), "/root/testdata/sf0.1")
    assert(line.length <= Cap, s"length=${line.length}")
    parse(line)
    assert(line.contains("\"metric\":\"total\""))
  }

  test("failed queries (-1 markers) stay visible in the map") {
    val r = synth(50, seed = 1) + ("q99_broken" -> -1.0)
    val line = Bench.renderLine(r, Seq(0.1), "/root/testdata/sf0.01")
    parse(line)
    assert(line.contains("\"q99\":-1"))
  }

  test("a failed query is named in the failed key, on every rung, and " +
      "still counts in value") {
    val r = Map("q1_a" -> 2.0, "q2_broken" -> 0.5)
    val line = Bench.renderLine(r, Seq(0.1), "/x/sf0.01",
      failed = Seq("q2_broken"))
    val json = parse(line)
    assert((json \ "failed").values == List("q2"), line)
    assert(line.contains("\"value\":2.50"), line)
    assert(line.contains("\"q2\":0.5"), line)
    // no failures: no key
    assert(!Bench.renderLine(r, Seq(0.1), "/x/sf0.01").contains("failed"))
    // the map-less last rung keeps the failure visible
    val slow = (1 to 300).map(i => s"q${i}_x" -> (1.5 + i % 3)).toMap
    val last = Bench.renderLine(slow, Seq(0.1), "/x/sf0.1",
      failed = Seq("q7_x"))
    assert(!last.contains("\"queries\""), last)
    assert((parse(last) \ "failed").values == List("q7"), last)
  }

  test("sentinel-normalized total: sent_med_cs is the upper-middle " +
      "median, value_norm DISCOUNTS contended readings only, absent " +
      "without sentinels") {
    val results = Map("q1_a" -> 2.0, "q2_b" -> 3.0) // total 5.00
    // sorted (0.60, 0.80, 1.00) → median 0.80 s = 80 cs →
    // value_norm = 5.00 * 50/80 = 3.13 (discounted)
    val line = Bench.renderLine(results, Seq(1.0, 0.6, 0.8), "/x/sf0.1")
    parse(line)
    assert(line.contains("\"sent_med_cs\":80"), line)
    assert(line.contains("\"value_norm\":3.13"), line)
    // a CALM median (below the 50 cs canon) must never inflate the
    // total — norm == raw (r13: flat raw totals under a 2.7×
    // sentinel swing proved up-scaling is fiction)
    val calm = Bench.renderLine(results, Seq(0.3, 0.1, 0.2), "/x/sf0.1")
    assert(calm.contains("\"sent_med_cs\":20"), calm)
    assert(calm.contains("\"value_norm\":5.00"), calm)
    // even count: upper-middle of (10, 40) cs is 40
    val even = Bench.renderLine(results, Seq(0.4, 0.1), "/x/sf0.1")
    assert(even.contains("\"sent_med_cs\":40"), even)
    // no sentinels → both fields absent, line still parses
    val none = Bench.renderLine(results, Nil, "/x/sf0.1")
    parse(none)
    assert(!none.contains("sent_med_cs") && !none.contains("value_norm"))
    // the fields survive every ladder rung, including the map-less
    // last resort
    val slow = (1 to 300).map(i => s"q${i}_x" -> 1.5).toMap
    val last = Bench.renderLine(slow, Seq(0.1), "/x/sf0.1")
    assert(last.length <= Cap)
    assert(last.contains("\"sent_med_cs\":10"), last)
    assert(last.contains("\"value_norm\":"), last)
  }

  test("at today's 237-query shape the minq cut keeps every heavy entry") {
    // r11's real line already rides the cs-unit minq rung — what
    // must hold is that the cut is declared, stays at a low rung,
    // and every query at or above the declared cut keeps its entry
    val results = synth(237, seed = 7)
    val line = Bench.renderLine(results,
      Seq(0.1, 0.1, 0.1, 0.1, 0.1, 0.1, 0.1, 0.1, 0.1, 0.1), "/x/sf0.1")
    assert(line.length <= Cap)
    parse(line)
    val minq = "\"minq\":([0-9.]+)".r.findFirstMatchIn(line)
      .map(_.group(1).toDouble).getOrElse(0.0)
    assert(minq <= 0.2, s"cut rung too coarse: $minq\n$line")
    val kept = results.filter(_._2 >= minq).keys
      .map(k => "\"" + k.stripPrefix("q").takeWhile(_ != '_') + "\":")
    kept.foreach(k => assert(line.contains(k), s"dropped heavy entry $k"))
  }
}
