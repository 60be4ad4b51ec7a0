package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt, "graft-bench")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // experiment knob: SPARK_GRAFT_NO_AQE=1 disables adaptive execution
    // for this run only (AQE is the product default — see GraftSession)
    if (sys.env.contains("SPARK_GRAFT_NO_AQE"))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    // Untimed warm-up: JVM/codegen init, parquet footer reads, and the
    // first shuffle's machinery otherwise land entirely on whichever
    // query the Map iteration happens to run first (~4-5 s of noise on
    // a sub-second query in earlier rounds). Table counts are metadata-
    // cheap; the small aggregate exercises codegen + exchange once.
    graft.io.Tables.names.foreach { n =>
      try graft.io.Tables.table(spark, sfDir, n).count()
      catch { case _: Throwable => () }
    }
    try {
      spark.range(1000000).selectExpr("id % 7 AS k", "id AS v")
        .groupBy("k").count().count()
    } catch { case _: Throwable => () }
    // The generic warm-up above still leaves a ~13 s one-time cost that
    // lands on whichever query the Map iteration runs FIRST (r8 charged
    // it to q63, r9 to q14 — both sub-second in every other series
    // reading): residual first-action machinery — broadcast thread
    // pool, first real parquet scan codegen, OS page-cache population
    // after a host phase. Run the first-in-order query once untimed so
    // that cost is paid outside the timers; the main loop then times
    // it like every other query. (A min-of-2 retry for slow readings
    // was considered and REJECTED: queries carrying a session-memoized
    // fit — LDA, PageRank, LSH, BPE — would have their second run read
    // the memo and the min would silently drop the fit cost the bench
    // charges once per run, by design. Mid-run one-off stalls on other
    // queries remain visible noise; re-run before attributing.)
    SparkEntry.queries.headOption.foreach { case (_, fn) =>
      try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
    }
    // Host-contention sentinel: the official series has twice (r5,
    // r10) read 1.5-2x inflated because the HOST was in a contended
    // phase, and the single-pass bench has no way to show that. This
    // fixed aggregate — no memoized state, no parquet, one tiny
    // shuffle — is timed before the loop, after every 30th query,
    // and after the loop; a flat ~0.1 s series means the timings are
    // trustworthy, a 3-10x spike brackets exactly which queries ran
    // during a bad phase. Emitted as "sent_cs" (centiseconds, see
    // PERF.md); sentinel time is NOT added to any query or total.
    val sentinels = scala.collection.mutable.ArrayBuffer.empty[Double]
    def sentinel(record: Boolean): Unit = {
      val t0 = System.nanoTime()
      try spark.range(2000000L).selectExpr("id % 97 AS k", "id AS v")
        .groupBy("k").sum("v").count()
      catch { case _: Throwable => () }
      if (record) sentinels += (System.nanoTime() - t0) / 1e9
    }
    sentinel(record = false) // its own codegen, untimed
    sentinel(record = true)
    // a failing query keeps its elapsed time in the map and in
    // "value", and is named in "failed"
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = SparkEntry.queries.zipWithIndex.map {
      case ((name, fn), i) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        if ((i + 1) % 30 == 0) sentinel(record = true)
        name -> dt
    }.toMap
    sentinel(record = true)
    spark.stop()
    println(renderLine(results, sentinels.toSeq, sfDir, failed.toSeq))
  }

  /** The multi-ingest registry DEMOS (write-path by design): their
    * seconds measure demo count, not engine speed, so the bench line
    * carries `value_demo` / `value_readpath` subtotals beside the
    * unchanged raw `value` (r14 verdict #8 — cross-round continuity
    * keeps `value` the graded number).
    */
  private[graft] val DemoQueries: Set[String] =
    Set("q237", "q241", "q242", "q244", "q247", "q248", "q249")

  /** The one-line JSON the driver captures, with the char-budget
    * ladder applied. Pure — BenchLineSpec drives it to 300 synthetic
    * keys and asserts every rung's output parses and fits. `failed`
    * names the queries that threw; every rung carries them as a
    * `"failed"` list of short keys, absent when none failed.
    */
  def renderLine(results: Map[String, Double],
      sentinels: Seq[Double], sfDir: String,
      failed: Seq[String] = Nil): String = {
    // The driver captures only the LAST 2000 chars of stdout, and sbt
    // appends an ~80-char "[success] Total time" trailer after us. The
    // whole JSON line must therefore start inside that window or the
    // driver records parsed=null (this silently broke rounds 1-3 with
    // full query names). Short keys ("q01".."qNN", the prefix before
    // the first underscore) + 2-decimal values keep 89 queries at
    // ~1.1 KB; a hard guard drops the per-query map rather than ever
    // emitting an unparseable line.
    def f2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    // per-query values: 2-decimal, then trailing zeros stripped
    // ("0.30"→"0.3", "1.00"→"1") — still valid JSON numbers, and at
    // 135 queries the saved chars keep the full line inside the
    // driver's 2000-char stdout capture window.
    def fq(v: Double): String = {
      val s = f2(v)
      if (!s.contains('.')) s
      else s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
    }
    // 1-decimal fallback: at ~148 queries the 2-decimal line nears
    // the guard; losing the second decimal (~centisecond noise
    // anyway) beats losing the whole per-query map. Values ≥ 10 s
    // render as whole seconds — the decimal is noise at that
    // magnitude and the saved chars matter at 176 keys.
    def f1(v: Double): String = {
      if (v >= 9.95) return math.round(v).toString
      val s = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
      if (s.endsWith(".0")) s.dropRight(2) else s
    }
    def shortKey(k: String): String = { val i = k.indexOf('_'); if (i > 0) k.substring(0, i) else k }
    // the sentinel series, centisecond integers ("12" = 0.12 s) —
    // the cheapest honest encoding at this char budget
    val sentCs = sentinels.map(v => math.round(v * 100).toString)
      .mkString(""","sent_cs":[""", ",", "]")
    val failedNote =
      if (failed.isEmpty) ""
      else failed.map(k => "\"" + shortKey(k) + "\"").sorted
        .mkString(""","failed":[""", ",", "]")
    // Sentinel-normalized total (r12 verdict #6): the last two
    // rounds' gate readings were contended-host artifacts that took
    // a manual adjudication each to dismiss. The median sentinel in
    // centiseconds ("sent_med_cs") and the DISCOUNTED total
    // ("value_norm" = value · 50/max(50, median)) make that
    // adjudication mechanical. The correction only ever DISCOUNTS a
    // contended reading toward the 50 cs canon, never inflates a
    // calm one: four r13 readings showed raw totals flat (203-235 s)
    // while the CPU-micro sentinel swung 24-65 cs — when the host
    // phase is calm-or-decoupled the raw total IS the measurement,
    // and scaling it UP by a fast sentinel manufactured a fiction
    // (489 "normalized" seconds from a 235 s run). Median =
    // upper-middle of the sorted series (2-4 entries per run; an
    // exact tie rule matters more than interpolation).
    val sentMedCs: Option[Long] =
      if (sentinels.isEmpty) None
      else {
        val sorted = sentinels.sorted
        Some(math.round(sorted(sorted.size / 2) * 100))
      }
    def normNote(total: Double): String = sentMedCs.filter(_ > 0).map(m =>
      s""","sent_med_cs":$m,"value_norm":${
        f2(total * 50.0 / math.max(50L, m))}""")
      .getOrElse("")
    def mkLine(fmt: Double => String, dropQ: Boolean = false,
        minQ: Double = 0.0, qUnit: String = ""): String = {
      val qs = results.filter { case (_, v) => v >= minQ || v < 0 }
        .map { case (k, v) =>
          val sk = shortKey(k)
          "\"" + (if (dropQ) sk.stripPrefix("q") else sk) + "\":" + fmt(v)
        }.mkString("{", ",", "}")
      val total = if (results.nonEmpty) results.values.sum else 0.0
      // basename only: "/root/testdata/sf0.1" → "sf0.1" — those 15
      // chars are what keep the q-prefixed keys inside the window
      val sfShort = sfDir.split('/').filter(_.nonEmpty).lastOption
        .getOrElse(sfDir)
      // self-describing markers: "29" means q29; "minq" = entries
      // under that many seconds omitted (still inside "value");
      // "q_unit":"cs" = per-query values are centisecond integers
      val keyNote = (if (dropQ) ""","keys":"qNN sans q"""" else "") +
        (if (minQ > 0) s""","minq":$minQ""" else "") +
        (if (qUnit.nonEmpty) s""","q_unit":"$qUnit"""" else "")
      // demo/read-path split (see DemoQueries): positive-time sums so
      // a negative (caller-marked) entry never skews a subtotal
      val demo = results.collect {
        case (k, v) if DemoQueries.contains(shortKey(k)) && v > 0 => v
      }.sum
      val readpath = results.values.filter(_ > 0).sum - demo
      val split =
        s""","value_readpath":${f2(readpath)},"value_demo":${f2(demo)}"""
      s"""{"metric":"total","value":${f2(total)},"unit":"sec"${normNote(total)}$split,"queries":$qs$keyNote$failedNote$sentCs,"sf":"$sfShort"}"""
    }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Budget: the driver keeps the LAST 2000 chars of stdout; sbt
    // appends a ~75-78-char "[success]" trailer and prefixes us with
    // "[info] " — ≈1914 usable. 1908 leaves a small safety margin
    // (the old 1800 guard silently dropped the whole per-query map
    // at 170 queries, which is the worse failure); at 176 keys the
    // q-prefixed 1-decimal line is ~1905, so every char of margin
    // here is deliberate.
    val cap = 1908
    val line2 = mkLine(fq)
    lazy val line1 = mkLine(f1)
    // per-query fallback: strip the 'q' key prefix (~1 char ×
    // queries) — still valid JSON, keys remain the query numbers
    lazy val line0 = mkLine(f1, dropQ = true)
    // centisecond-integer fallback ("30" = 0.30 s, marked
    // "q_unit":"cs"): 1 char cheaper than "0.3" on the sub-second
    // entries that dominate, which keeps the FULL map inside the
    // window to ~230 queries — a complete map in coarser units beats
    // dropping entries
    def fcs(v: Double): String = math.round(v * 100).toString
    lazy val lineCs = mkLine(fcs, dropQ = true, qUnit = "cs")
    // last-resort ladder: omit entries under minQ seconds (their sum
    // still lands in "value"; "minq" records the cut) at the
    // smallest threshold that fits — a partial per-query map beats
    // none.
    lazy val lineMin = Seq(0.05, 0.1, 0.2, 0.3, 0.4, 0.5, 1.0).iterator
      .map(m => mkLine(fcs, dropQ = true, minQ = m, qUnit = "cs"))
      .find(_.length <= cap)
    if (line2.length <= cap) line2
    else if (line1.length <= cap) line1
    else if (line0.length <= cap) line0
    else if (lineCs.length <= cap) lineCs
    else lineMin.getOrElse(
      s"""{"metric":"total","value":${f2(total)},"unit":"sec"${normNote(total)}$failedNote$sentCs,"sf":"$sfDir"}""")
  }
}
