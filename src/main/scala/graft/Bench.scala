package graft
object Bench {
  /** One query's bench record: the lower median of its successful rep
    * walls (-1 when every rep failed), its failed-rep count, the build
    * and serve medians, the min/max band, and the raw successful walls
    * in run order. */
  private final case class Result(name: String, median: Double, failed: Int,
      buildMed: Double, serveMed: Double, lo: Double, hi: Double, raw: Seq[Double])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(GraftSession.envCores)
    // Warmup: one query per table family (fact, semester fact, documents,
    // embeddings) so the first timed query doesn't absorb JVM/codegen/parquet
    // warmup (q13 once read 10.7s vs 2.1s for the identical-shape q14). Also
    // populates the Star memo cache = the materialized-star read path.
    val warmup = Seq("q01_avg_ipk", "q26_ips_distribution", "q12_stage_gpa",
      "q31_dedup_exact", "q36_knn_brute", "q50_event_windows")
    // total build-phase seconds across the WHOLE run (warmup + every rep
    // of every query). The per-query medians exclude one-time memo builds
    // by construction (the build lands in rep 1 of the first consumer;
    // the median of [build+serve, serve, serve] is serve), so the suite
    // total alone would hide the session's build bill — this field makes
    // it auditable in the same artifact.
    var buildTotal = 0.0
    warmup.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
      }
    }
    buildTotal += BuildPhase.drain()
    // Stable (sorted) order so per-query deltas are comparable across rounds.
    // Each query runs `reps` times and reports the MEDIAN: the single-shot
    // noise floor is multiples, not percent (q29 ran 1.36 → 0.48 → 1.73 s
    // on identical code), so one sample per query cannot support
    // round-over-round regression analysis.
    val reps = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_REPS").flatMap(_.toIntOption).getOrElse(3))
    // Volatility sentinel: these queries drift by multiples across runs
    // on unchanged code (in-suite neighbor noise, checkpoint-I/O
    // sensitivity, or bands too young to judge), so their reported
    // medians rest on 5 samples and a single slow rep cannot move them.
    val volatileReps = 5
    val volatileQueries = Set("q34_dedup_ngram_jaccard", "q72_token_percentiles",
      "q64_rare_terms", "q144_semantic_contamination", "q66_chunk_dedup",
      "q100_split_funnel", "q340_t_closeness", "q343_bm25_sweep",
      "q184_mad_outliers")
    def repsFor(name: String): Int =
      if (volatileQueries(name)) math.max(reps, volatileReps) else reps
    // optional comma-separated query filter for focused profiling runs
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // Between-query hygiene: the suite shares one JVM across 300+
    // queries. Non-memoized checkpoints register with graft.Ckpt and are
    // unpersisted DETERMINISTICALLY when the next query's thunk begins
    // (SparkEntry.queries wrapper), and driver loops drop superseded
    // frames mid-query — so no GC crutch is needed here.
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      // a rep that throws is a FAILURE, not a sample: its time-to-failure
      // must not enter the median (a broken query would masquerade as a
      // fast one in round-over-round comparisons)
      val samples = (1 to repsFor(name)).map { _ =>
        buildTotal += BuildPhase.drain() // clear residue from a failed prior rep
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case _: Throwable => false }
        val wall = (System.nanoTime() - t0) / 1e9
        // build-phase seconds charged during this rep: memo builds plus
        // per-rep artifact writes (0 for pure-read queries)
        val build = BuildPhase.drain()
        buildTotal += build
        (ok, wall, build)
      }
      def med(xs: Seq[Double]): Double =
        if (xs.isEmpty) -1.0 else { val s = xs.sorted; s((s.length - 1) / 2) }
      val good = samples.filter(_._1)
      // lower median of the SUCCESSFUL reps: exact middle for odd counts,
      // the conservative (smaller) of the two middles for even. -1 sentinel
      // when every rep failed. build and serve get their OWN medians (the
      // wall median may come from a different rep than the build median —
      // each column answers its own round-over-round question).
      // min/max of the successful reps are the self-adjudication band: a
      // driver-run number outside [min, max] is attributable to container
      // noise without a local rerun. The raw walls in run order show
      // whether a slow round was 2-of-3 slow reps (systemic) or one cold
      // rep (noise).
      Result(name, med(good.map(_._2)), samples.count(!_._1),
        med(good.map(_._3)), med(good.map(t => t._2 - t._3)),
        good.map(_._2).minOption.getOrElse(-1.0),
        good.map(_._2).maxOption.getOrElse(-1.0), good.map(_._2))
    }
    // fixed 3-decimal (ms-precision) formatting: a full double's ~17
    // significant digits made the JSON line overflow the driver's bounded
    // stdout tail at 70+ queries; ms precision is below the bench noise
    // floor and keeps the whole line visible
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    // stdout gets CENTISECOND precision with trailing zeros trimmed
    // ("0.3", not "0.300"): 10 ms is far below the noise floor and
    // trimming keeps the whole line inside the driver's ~2.6 KB window
    def fmtShort(v: Double): String = {
      val s = String.format(java.util.Locale.ROOT, "%.2f", v)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
      else s
    }
    def shortName(k: String): String = k.takeWhile(_ != '_')
    def qsJson(short: Boolean) = results.map { r =>
      "\"" + (if (short) shortName(r.name) else r.name) + "\":" +
        (if (short) fmtShort(r.median) else fmt(r.median))
    }.mkString("{", ",", "}")
    // build/serve split, min/max spread and raw rep arrays: FILE artifact
    // only — the stdout line must stay under the driver's bounded tail.
    def splitJson(sel: Result => Double) =
      results.map(r => "\"" + r.name + "\":" + fmt(sel(r))).mkString("{", ",", "}")
    def repsRawJson = results.map { r =>
      "\"" + r.name + "\":" + r.raw.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failures = results.filter(_.failed > 0)
    def errsJson(short: Boolean) = failures.map { r =>
      "\"" + (if (short) shortName(r.name) else r.name) + "\":" + r.failed
    }.mkString("{", ",", "}")
    val total = results.map(r => math.max(r.median, 0.0)).sum
    // §2 REFERENCE-PARITY FAMILY total (q01–q49): BASELINE.md's 81.3 s
    // measures the reference running ITS OWN workload, which is exactly
    // this family — the like-for-like number. The suite total also
    // includes the 290+ queries the reference cannot run at all, most of
    // whose cost is per-query fixed cost (BENCH_FLOOR_r17.json), so BOTH
    // numbers print in every artifact.
    val familyRe = "^q(0[1-9]|[1-4][0-9])_".r
    val family = results.filter(r => familyRe.findFirstIn(r.name).isDefined)
    val familyTotal = family.map(r => math.max(r.median, 0.0)).sum
    // resolved before json() so the stdout "detail" pointer names the
    // ACTUAL artifact path, not a hardcoded default
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    // the override is visible in the artifact so round-over-round readers
    // know which medians carry 5 samples — listing only queries that
    // actually RAN (a BENCH_ONLY-filtered run must not claim overrides
    // for queries it never executed), at the reps the run really used
    def volJson(short: Boolean) = volatileQueries.toSeq.sorted
      .filter(q => results.exists(_.name == q))
      .map(q => "\"" + (if (short) shortName(q) else q) + "\":" +
        repsFor(q)).mkString("{", ",", "}")
    // per-memo-key build seconds (file artifact only): which keys were
    // built this session and what each cost, keyed by the bare memo key
    def memoBuildsJson = SessionMemo.buildLog.toSeq
      .groupMapReduce(_._1._3)(_._2)(_ + _).toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    def json(short: Boolean) = {
      // split + spread ride only the file artifact (see splitJson comment)
      val split = if (short) ""
        else s""","build":${splitJson(_.buildMed)},"serve":${splitJson(_.serveMed)},"min":${splitJson(_.lo)},"max":${splitJson(_.hi)},"reps_s":$repsRawJson,"memo_builds":$memoBuildsJson"""
      // STDOUT carries the TOP-20 medians only: the driver records only
      // a ~2.6 KB stdout tail, which the full per-query map outgrows, and
      // an empty map would leave the driver's record per-query blind.
      // ~600 bytes keeps the line well inside the tail at any query
      // count; "nq" + "detail" point readers at the full artifact.
      val queries =
        if (short) results.sortBy(-_.median).take(20)
          .map(r => "\"" + r.name + "\":" + fmtShort(r.median))
          .mkString("{", ",", "}")
        else qsJson(short = false)
      val detail = if (short) s""","nq":${results.size},"detail":"$out"""" else ""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","family_total":${fmt(familyTotal)},"family_nq":${family.size},"memo_build_total":${fmt(buildTotal)},"queries":$queries,"errors":${errsJson(short)},"sf":"$sfDir","reps":$reps,"reps_overrides":${volJson(short)}$detail$split}"""
    }
    println(json(short = true))
    // the file artifact keeps FULL names and the per-query medians for
    // lossless round-over-round comparison (committed as BENCH_LOCAL_r{N})
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json(short = false) + "\n")
    Ckpt.releaseAll(spark) // session-end hook: drop every scope, all threads
    spark.stop()
    // stderr note only — rc stays 0 so the driver still records the JSON;
    // the "errors" map is the machine-readable failure marker
    if (failures.nonEmpty)
      System.err.println(s"[bench] queries with failed reps: ${failures.map(_.name).mkString(", ")}")
  }
}
