package graft
object Bench {
  /** Calibration reference: min-of-last-3 wall seconds of the fixed
    * pure-CPU workload (sum of xxhash64 over a SINGLE-TASK
    * range(200M) — codegen'd, no I/O, data- and cpu-count-independent)
    * measured on this host in a quiet round-10 window (0.703-0.719 s
    * over 3 repeats at the driver's local[32] config; 0.85 s at
    * local[4] — executor-thread contention adds ~20%, so compare
    * like-for-like configs). `jitter` in the bench artifacts is
    * calibration_sec / this — regression triage divides per-query
    * times by it instead of re-deriving host drift from a manual
    * round-over-round diff (the r8->r9 +11% investigation). */
  val CalibrationRef = 0.70
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // local-iteration filter (unset for driver runs = all queries)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Warm up outside timing: parquet footers, then every query once on the
    // smallest scale factor so codegen/JIT/BLAS one-time costs don't land in
    // the measured pass (we report steady-state throughput).
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    spark.read.parquet(s"$sfDir/documents.parquet").count()
    val warmDir = "/root/testdata/sf0.001"
    val queries = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    if (new java.io.File(warmDir).isDirectory)
      queries.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
    // fixed pure-CPU calibration, measured exactly like a query
    // (4 passes, min of last 3): data-independent AND single-task
    // (numPartitions = 1), so the number is independent of the cpu
    // count and measures exactly the per-core drift (hypervisor
    // steal) that moves per-query times — round-over-round movement
    // in THIS number is host jitter, not a plan change
    def calibPasses(): Seq[Double] = {
      import org.apache.spark.sql.functions.{col, sum, xxhash64}
      (1 to 4).map { _ =>
        val t0 = System.nanoTime()
        // modulo keeps the ANSI sum inside BIGINT (raw xxhash64 sums
        // overflow); the hash work dominates, the mod is noise
        spark.range(0L, 200000000L, 1L, 1)
          .select(sum(xxhash64(col("id")) % 1000000L)).collect()
        (System.nanoTime() - t0) / 1e9
      }
    }
    val calibStart = calibPasses()
    val calib = calibStart.drop(1).min
    val jitter = calib / CalibrationRef
    // three timed passes per query; the FIRST is discarded (it absorbs
    // the query's one-time codegen/Janino/C2 compilation at the target
    // SF — the warmup above runs at sf0.001 so plan shapes can differ)
    // and the min of the remaining two is reported. The host also shows
    // ~2x single-thread timing jitter, so a min over post-JIT passes is
    // the only stable statistic here.
    val results = queries.map { case (name, fn) =>
      var failed = false
      // 4 passes, first discarded, min of 3: the host VM shows
      // multi-second noise spikes (hypervisor neighbors), and a min
      // over three post-JIT passes rejects a single bad window that a
      // min of two cannot. clearCache runs per PASS: each invocation
      // re-persists fresh frames, so without it pass N measures with
      // N-1 dead cached copies squeezing execution memory.
      val times = (1 to 4).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case e: Throwable =>
          failed = true
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      // a failed query must not masquerade as a fast one
      name -> (if (failed) Seq(-1.0) else times)
    }
    // a 30+-minute run drifts WITHIN the run: the end calibration
    // bounds how much the host moved while the queries were timed
    // (one calibration instant cannot represent the window — the
    // r9->r10 +19% phantom took a manual re-run to adjudicate)
    val calibEnd = calibPasses()
    def minOf(ts: Seq[Double]): Double =
      if (ts.head < 0) -1.0 else ts.drop(1).min
    // median of the retained (post-JIT) passes, index derived from
    // the retained length — NOT hard-coded to the 4-pass layout, so
    // changing the pass count cannot silently turn this into a
    // non-median order statistic (lower median for even lengths)
    def medOf(ts: Seq[Double]): Double =
      if (ts.head < 0) -1.0
      else {
        val kept = ts.drop(1).sorted
        kept((kept.length - 1) / 2)
      }
    val mins = results.map { case (k, ts) => k -> minOf(ts) }
    // ---- mechanical drift triage against the previous artifact ----
    // a query is a drift SUSPECT when jitter-normalized min AND
    // median both moved > 1.3x vs the previous full map; host noise
    // moves one statistic or the calibration, a plan regression
    // moves both. Suspects still need a git-diff check (Bench cannot
    // see code changes) — but the list makes triage mechanical.
    // A filtered run writes under target/ (git-ignored) unless told
    // otherwise, so a few queries never replace the committed full map;
    // triage still compares against that committed map.
    val committed = "bench_times.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "target/bench_times_filtered.json" else committed)
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV",
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", committed))
    val driftSuspects: Seq[String] = try {
      val f = new java.io.File(prevPath)
      if (!f.isFile) Nil else {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        val j = JsonMethods.parse(
          new String(java.nio.file.Files.readAllBytes(f.toPath),
                     java.nio.charset.StandardCharsets.UTF_8))
        def num(v: JValue): Option[Double] = v match {
          case JDouble(d)  => Some(d)
          case JInt(i)     => Some(i.toDouble)
          case JDecimal(d) => Some(d.toDouble)
          case JLong(l)    => Some(l.toDouble)
          case _           => None
        }
        val prevJitter = num(j \ "jitter").filter(_ > 0).getOrElse(1.0)
        val prevMins = (j \ "queries") match {
          case JObject(fs) => fs.flatMap { case (k, v) =>
            num(v).map(k -> _) }.toMap
          case _ => Map.empty[String, Double]
        }
        val prevMeds = (j \ "medians") match {
          case JObject(fs) => fs.flatMap { case (k, v) =>
            num(v).map(k -> _) }.toMap
          case _ => Map.empty[String, Double]
        }
        results.toSeq.flatMap { case (k, ts) =>
          val nowMin = minOf(ts); val nowMed = medOf(ts)
          prevMins.get(k).filter(p => p > 0.05 && nowMin > 0)
            .flatMap { pMin =>
              // older artifacts carry no medians — fall back to the
              // previous min so the rule degrades to min-only there
              val pMed = prevMeds.getOrElse(k, pMin)
              val minR = (nowMin / jitter) / (pMin / prevJitter)
              val medR = (nowMed / jitter) / (pMed / prevJitter)
              if (minR > 1.3 && medR > 1.3) Some(k) else None
            }
        }.sorted
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] drift triage skipped: ${e.getMessage}")
      Nil
    }
    // ---- self-adjudicating re-measure of the drift suspects ----
    // every r11 suspect (67/67) was host noise, and closing each one
    // still cost a manual clean-window session. Adjudicate inside the
    // SAME run instead: after the main passes, re-calibrate and — if
    // the window is clean (jitter <= 1.05) — re-run each suspect for
    // 3 passes (first discarded, min of 2) and record the re-measure
    // next to the artifact. A suspect whose re-measure lands back at
    // the previous jitter-normalized min was noise; one that stays
    // high survives a clean window and is a REAL regression to chase.
    // default cap high enough that "every suspect carries a
    // same-session re-measure" holds even on a regime-shifted round
    // (r12's first run flagged 61 — a 24 cap left 37 unadjudicated);
    // worst case cost is suspects x 3 short passes
    val adjMax = sys.env.get("SPARK_GRAFT_ADJUDICATE_MAX")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(100)
    var adjCalib = -1.0
    val driftAdjudicated: Seq[(String, Double)] =
      if (driftSuspects.isEmpty) Nil
      else {
        // wait (up to 3 calibration attempts, 15 s apart) for a clean
        // window; if the host never settles, adjudicate anyway — the
        // recorded adjudication_jitter lets the consumer normalize,
        // and a dirty-but-recorded re-measure still beats a skipped
        // one (the whole point is no manual follow-up session)
        var attempt = 0
        adjCalib = calibPasses().drop(1).min
        while (adjCalib / CalibrationRef > 1.05 && attempt < 2) {
          attempt += 1
          System.err.println(
            s"[bench] adjudication window dirty (jitter ${
              "%.3f".format(adjCalib / CalibrationRef)}), retrying")
          Thread.sleep(15000)
          adjCalib = calibPasses().drop(1).min
        }
        driftSuspects.take(adjMax).flatMap { name =>
          queries.get(name).map { fn =>
            val ts = (1 to 3).map { _ =>
              spark.catalog.clearCache()
              val t0 = System.nanoTime()
              try fn(spark, sfDir).count()
              catch { case _: Throwable => () }
              (System.nanoTime() - t0) / 1e9
            }
            name -> ts.drop(1).min
          }
        }
      }
    // Two artifacts, by audience:
    //  1. bench_times.json — the FULL per-query map at full precision,
    //     written to a file the round harness can ingest whole. The
    //     harness captures only the last ~2000 chars of stdout, so a
    //     202-query map printed inline truncates mid-number and parses
    //     as nothing (BENCH_r07 lost 135 of 202 query times that way).
    //  2. ONE compact stdout JSON line that FITS in that tail window:
    //     total + a fixed headline subset at ms precision, plus a
    //     pointer to the full file. The headline list is stable across
    //     rounds so the visible subset stays round-over-round
    //     comparable.
    def r3(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val total = if (mins.nonEmpty) mins.values.sum else 0.0
    val fullJson = {
      def m(vals: Map[String, Double]): String = vals.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
      val passes = results.toSeq.sortBy(_._1)
        .map { case (k, ts) =>
          s"\"$k\":${ts.map(r3).mkString("[", ",", "]")}" }
        .mkString("{", ",", "}")
      val meds = results.map { case (k, ts) => k -> medOf(ts) }
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
        s""""cpus":$cpus,"passes":4,"stat":"min_of_last_3",""" +
        s""""calibration_sec":$calib,"calibration_ref":$CalibrationRef,""" +
        s""""jitter":$jitter,""" +
        s""""calibration_passes":${calibStart.map(r3).mkString("[", ",", "]")},""" +
        s""""calibration_end_passes":${calibEnd.map(r3).mkString("[", ",", "]")},""" +
        s""""drift_suspects":${driftSuspects.map(q => s"\"$q\"").mkString("[", ",", "]")},""" +
        s""""drift_adjudicated":${
          driftAdjudicated.sortBy(_._1)
            .map { case (k, v) => s"\"$k\":${r3(v)}" }
            .mkString("{", ",", "}")},""" +
        s""""adjudication_calibration_sec":${r3(adjCalib)},""" +
        s""""adjudication_jitter":${
          r3(if (adjCalib > 0) adjCalib / CalibrationRef else -1.0)},""" +
        s""""n_queries":${results.size},"queries":${m(mins)},""" +
        s""""medians":${m(meds)},"passes_sec":$passes}"""
    }
    try {
      val f = new java.io.File(outPath)
      Option(f.getParentFile).foreach(_.mkdirs())
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.println(fullJson) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // The stdout line carries the COMPLETE per-query map (round-13
    // contract fix): the round driver's per-query comparison came back
    // empty every round (PERF per_query {}) while the inline map was a
    // ~67-name headline subset — the full map previously lived only in
    // bench_times.json, which each run overwrites. ms precision keeps
    // the line ~6 KB. bench_times.json stays the full-precision,
    // passes-included artifact for humans.
    val head = mins.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"$k\":${r3(v)}" }
      .mkString("{", ",", "}")
    val suspectsHead = driftSuspects.take(10)
      .map(q => s"\"$q\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"calib":${r3(calib)},"calib_end":${r3(calibEnd.drop(1).min)},"jitter":${r3(jitter)},"n_drift_suspects":${driftSuspects.size},"n_adjudicated":${driftAdjudicated.size},"drift_suspects":$suspectsHead,"queries_file":"$outPath","queries":$head}""")
    spark.stop()
  }
}
