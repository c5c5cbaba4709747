package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every registry query executed to completion (noop
  * sink — nothing is pruned the way a bare count() would allow) on
  * SPARK_GRAFT_SF_DIR; prints the one-line JSON contract. */
object Bench {
  /** The default (and driver-run) bench fixture — also the only sf the
    * regression gate judges. */
  private val DefaultSfDir = "/root/testdata/sf0.1"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val nCpus = cpus.toInt
    val spark = graft.core.LocalSession(nCpus, "graft-bench")
    // warm-up actions so JVM/codegen startup AND parquet/Hadoop-FS init
    // aren't charged to whichever query happens to run first
    spark.range(1000).selectExpr("sum(id)").collect()
    // guarded like the queries themselves: a warm-up failure must not
    // kill the run before the summary line the driver parses
    try spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_name").count().collect()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up read failed: ${e.getMessage}")
    }
    // dev convenience: name args select a subset; the driver passes none
    val selected =
      if (args.isEmpty) SparkEntry.registry
      else SparkEntry.registry.filter(args.toSet contains _._1)
    // Two full passes, min per query: one pass is hostage to page-cache /
    // JIT warm-up noise, and the min of two is the stable estimator of
    // what the code actually costs. Storage is released after EVERY query
    // — clearCache() alone leaves localCheckpoint blocks pinned
    // (core/Release.scala), and 97 queries of accumulated blocks + GC
    // pressure inflated late-sequence queries up to 48x in round 4.
    val iters = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt)
    // a failed pass records None, NOT its time-to-crash — min() over a
    // 1-second OOM and an 8-second success must report 8s, or a
    // regression masquerades as a speedup in the gate artifact
    // Calibration probes run at every SEGMENT boundary inside each pass
    // (not just bracketing whole passes): round 12's driver board held at
    // 0.96x of round 11 OVERALL while one contiguous 5-query stretch ran
    // 4-6x slow — a transient load spike (or cache-eviction stretch) that
    // a single up-front probe cannot see. With per-segment samples, the
    // gate stretches each query's budget by the load measured AROUND the
    // pass that produced its min time, so a spike pays for exactly the
    // stretch it hit.
    val SegmentSize = 48
    def onePass(): (IndexedSeq[(String, Option[Double])], IndexedSeq[Double]) = {
      val cals = scala.collection.mutable.ArrayBuffer(calibrate(spark, nCpus))
      val times = selected.zipWithIndex.map { case ((name, q), i) =>
        val t0 = System.nanoTime()
        val ok =
          try { q.fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
          finally graft.core.Release.storage(spark)
        // capture elapsed BEFORE the boundary probe: evaluating it in
        // the tuple below would charge the ~2s probe to every 48th
        // query's measured time (and bake it into re-pinned budgets)
        val elapsed = (System.nanoTime() - t0) / 1e9
        if ((i + 1) % SegmentSize == 0 && i + 1 < selected.size)
          cals += calibrate(spark, nCpus)
        name -> (if (ok) Some(elapsed) else None)
      }.toIndexedSeq
      cals += calibrate(spark, nCpus)
      (times, cals.toIndexedSeq)
    }
    // The budget gate divides measured calibration by the PINNED
    // (representative-load) calibration to learn how loaded this machine
    // is right now, and stretches budgets by that factor. Round 9's
    // driver ran ~1.8x slower than pin-time across all 167 queries and
    // the un-normalized gate called 12 false regressions — the gate was
    // measuring the machine, not the code.
    val passes = (1 to iters).map(_ => onePass())
    val calSamples = passes.flatMap(_._2)
    val calMed = { val s = calSamples.sorted; s(s.size / 2) }
    // per query: min time across passes, plus WHICH pass produced it (the
    // pass whose local load should judge the budget)
    val results = selected.map(_._1).zipWithIndex.map { case (name, i) =>
      val times = passes.flatMap(_._1(i)._2)
      // every pass failed: -1 is an unmistakable failure marker the JSON
      // consumer can't mistake for a fast query
      name -> (if (times.isEmpty) -1.0 else times.min)
    }
    val minPassIdx: Map[String, Int] = selected.map(_._1).zipWithIndex.map {
      case (name, i) =>
        val perPass = passes.map(_._1(i)._2)
        val best = perPass.zipWithIndex
          .collect { case (Some(t), pi) => (t, pi) }
          .sortBy(_._1).headOption.map(_._2).getOrElse(0)
        name -> best
    }.toMap
    // failed queries (-1 markers) are EXCLUDED from the total — summing
    // them in would make a hard failure LOWER the headline number
    val failed = results.count(_._2 < 0)
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // Per-query detail first, CHUNKED into <500-byte lines (r16: the
    // former single per_query line outgrew the driver's tail capture at
    // 232 queries and its round-over-round per-query diff came back
    // empty — PERF_r15 per_query: {}). Each chunk is one complete JSON
    // object named "per_query" (part i of n), so a line-oriented
    // consumer can concatenate the "queries" maps; the compact "total"
    // line below stays LAST and is the primary contract.
    val perQueryEntries = results.map { case (k, v) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    }
    // 8 entries/line ≈ 300 bytes at the longest registry names —
    // comfortably under the 500-byte line budget
    val perQueryChunks = perQueryEntries.grouped(8).toSeq
    perQueryChunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"per_query","part":${i + 1},"of":${perQueryChunks.size},"queries":${c.mkString("{", ",", "}")},"sf":"$sfDir"}""")
    }
    // compact summary LAST (<500 bytes): the full line above can exceed the
    // driver's tail-capture, leaving `parsed` null — this one never does
    // Locale.ROOT: the f interpolator uses the JVM default locale, which
    // would print "132,7" (invalid JSON) under e.g. de_DE
    def num(v: Double, dp: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))
    val slowest = results.sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + "\":" + num(v, 1) }
      .mkString("{", ",", "}")
    val totalStr = num(total, 2)
    println(s"""{"metric":"total","value":$totalStr,"unit":"sec","n":${results.size},"iters":$iters,"failed":$failed,"cal_sec":${num(calMed, 3)},"slowest":$slowest,"sf":"$sfDir"}""")
    // Durable full board: the driver's artifact keeps only a stdout tail,
    // which truncates the per_query line once the registry outgrew it —
    // so full-board runs ALSO write the complete per-query map to a file
    // that gets committed with the round. One query per line keeps the
    // git diff per-query. Subset (dev) runs skip the write so a 2-query
    // probe can't clobber the committed board, and sweep runs at a
    // non-default sf only write when SPARK_GRAFT_BOARD names a target.
    def normPath(p: String) = p.replaceFirst("^file:(//)?", "").stripSuffix("/")
    val boardEnv = sys.env.get("SPARK_GRAFT_BOARD")
    // iters >= 2 mirrors gateApplies: a single-iteration probe must not
    // overwrite the committed min-of-2 board with warm-up noise
    if (args.isEmpty && iters >= 2 &&
        (boardEnv.isDefined || normPath(sfDir) == normPath(DefaultSfDir))) {
      // r16: the default-path board is additionally keyed by the cpu
      // count — the driver's low-core scaling run at the default sf was
      // clobbering the committed 32-cpu board (r15's working tree held
      // the c8 run). An explicit SPARK_GRAFT_BOARD still wins.
      val boardPath = boardEnv.getOrElse(
        if (cpus == "32") "bench_board.json" else s"bench_board_c$cpus.json")
      val body = results.sortBy(_._1)
        .map { case (k, v) => "  \"" + k + "\": " + num(v, 3) }
        .mkString(",\n")
      val doc = s"""{
        |"sf": "$sfDir",
        |"iters": $iters,
        |"failed": $failed,
        |"total_sec": $totalStr,
        |"calibration_sec": ${num(calMed, 3)},
        |"queries": {
        |$body
        |}
        |}""".stripMargin
      try {
        val w = new java.io.PrintWriter(new java.io.File(boardPath), "UTF-8")
        try w.println(doc) finally w.close()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] board write to $boardPath failed: ${e.getMessage}")
      }
    }
    // Per-query regression gate: bench_budgets.json pins a ceiling per
    // query (re-baselined when a slowdown is justified and explained in
    // SCALING.md). Without it the round-6 board drifted ~16% with no
    // alarm — drift that size would hide a real 2x regression on a fast
    // query. Breaches list offenders and FAIL the run (exit 1); the
    // summary lines above are already printed, so the driver's artifact
    // still carries the numbers alongside the non-zero rc.
    val budgetPath = sys.env.getOrElse("SPARK_GRAFT_BUDGETS", "bench_budgets.json")
    val budgetFile = new java.io.File(budgetPath)
    // the gate only judges the full default board at the default sf AND
    // the default 32-cpu count — subset/dev and sweep runs (sf1, custom
    // fixtures) have different per-query costs, and the budgets are
    // 32-core ceilings: r16's inline derivations parallelize (unlike
    // the overhead-bound memoized board), so the driver's low-core
    // scaling run would breach them on core count alone, which is a
    // measurement category, not a regression. Path compare is
    // normalized (scheme prefix / trailing slash) so an equivalent
    // spelling can't silently run the default board ungated.
    val gateApplies = args.isEmpty && iters >= 2 &&
      normPath(sfDir) == normPath(DefaultSfDir) && cpus == "32"
    if (args.isEmpty && iters >= 2 && !gateApplies)
      System.err.println(if (cpus != "32")
        s"[bench] non-default cpu count $cpus - regression gate skipped " +
          "(budgets are 32-core ceilings)"
      else s"[bench] non-default sf dir $sfDir - regression gate skipped")
    if (budgetFile.isFile && gateApplies) {
      val src = scala.io.Source.fromFile(budgetFile, "UTF-8")
      val text = try src.mkString finally src.close()
      // Load normalization: budgets were pinned on a ~idle machine whose
      // calibration time is stored alongside them ("_calibration"). The
      // same fixed probe just ran interleaved with the passes; the
      // clamped ratio stretches every budget uniformly, so a loaded
      // machine doesn't fail the gate while a query that regressed
      // RELATIVE to its neighbors still does.
      val pinnedCal = parseBudgets(text).get(CalibrationKey)
      val factor = calibrationFactor(calSamples.toSeq, pinnedCal)
      if (pinnedCal.isEmpty)
        System.err.println(
          s"[bench] no $CalibrationKey pinned in $budgetPath - load factor 1.0")
      else
        System.err.println(s"[bench] calibration ${num(calMed, 3)}s vs pinned " +
          s"${num(pinnedCal.get, 3)}s - budget load factor ${num(factor, 2)}")
      // Per-query LOCAL factor: the max of the two probes bracketing this
      // query's segment in the pass that produced its min time. A spike
      // confined to one stretch of the board stretches only that
      // stretch's budgets; the global median still floors everything.
      val perQueryFactor: Map[String, Double] = pinnedCal match {
        case Some(p) if p > 0 =>
          selected.map(_._1).zipWithIndex.map { case (name, i) =>
            val cals = passes(minPassIdx(name))._2
            val seg = i / SegmentSize
            val bracket = math.max(cals(seg), cals(math.min(seg + 1, cals.size - 1)))
            name -> math.min(MaxLoadFactor, math.max(1.0, bracket / p))
          }.toMap
        case _ => Map.empty
      }
      val spiky = perQueryFactor.filter(_._2 > factor * 1.25)
      if (spiky.nonEmpty)
        System.err.println(s"[bench] local load spikes (factor >1.25x global): " +
          spiky.toSeq.sortBy(-_._2).take(8)
            .map { case (k, f) => s"$k=${num(f, 2)}" }.mkString(", "))
      val (over, unbudgeted) = budgetCheck(results, text, factor, perQueryFactor)
      if (unbudgeted.nonEmpty)
        System.err.println(s"[bench] no budget pinned for: ${unbudgeted.mkString(", ")}")
      // Self-spike blind spot: the probes share the JVM with the queries,
      // so a code change that adds GC/cache pressure slows its own
      // segment's probes and earns itself a local stretch. A pass that
      // exists ONLY under an outsized local factor is flagged loudly
      // (not failed — round 12's genuine 4-6x environmental segment
      // spikes are exactly what the local factor must absorb).
      val absorbed = localOnlyPasses(results, text, factor, perQueryFactor)
      if (absorbed.nonEmpty)
        System.err.println("[bench] WARN: passing only under a local " +
          s"segment factor >1.5x global (self-spike suspects): " +
          absorbed.mkString(", "))
      if (over.nonEmpty || failed > 0) {
        val detail = over.map { case (k, v, b) =>
          "\"" + k + "\":{\"sec\":" + num(v, 2) + ",\"budget\":" + num(b, 2) + "}"
        }.mkString("{", ",", "}")
        println(s"""{"metric":"budget_breach","n_over":${over.size},"failed":$failed,"cal_factor":${num(factor, 2)},"offenders":$detail}""")
        spark.stop()
        sys.exit(1)
      }
    } else if (gateApplies) {
      System.err.println(s"[bench] budget file $budgetPath missing - regression gate skipped")
    }
    spark.stop()
  }

  /** The reserved budgets-file key holding the pin-time calibration
    * seconds (not a query budget). */
  private[graft] val CalibrationKey = "_calibration"

  /** The one load-factor ceiling shared by every clamp site (global
    * factor, per-segment local factor, and the self-spike detector's
    * "did it actually pass" upper bound): a calibration glitch never
    * writes a >MaxLoadFactor blank check, and keeping it in ONE place
    * means the detector can never silently diverge from the real gate
    * if the ceiling changes. */
  private[graft] val MaxLoadFactor = 4.0

  /** Fixed CPU-bound calibration probe: `cpus` partitions, each running a
    * constant-size xxhash64 chain — no I/O, no shuffle, no data
    * dependence, so its wall time tracks the machine's CURRENT per-core
    * throughput. Identical work at pin time and gate time; the ratio of
    * the two is the load factor the gate normalizes by.
    *
    * Sized COMPUTE-dominated (~2 s idle at 32 cpus): the original
    * 8M-hashes/task probe was mostly job overhead (scheduling + collect),
    * and overhead does not stretch under CPU contention the way
    * sustained query compute does — a 32-busy-loop load that slowed the
    * full board 1.81× moved that probe only 1.20×, so the gate
    * under-stretched budgets and called 4 false regressions. At
    * 128M hashes/task the measured probe stretch under the identical
    * load is ~1.9×, matching the board. */
  private def calibrate(spark: SparkSession, cpus: Int): Double = {
    val t0 = System.nanoTime()
    // bit_xor, not sum: a multi-G-hash sum overflows long under ANSI mode
    spark.range(0L, cpus.toLong * 128000000L, 1L, cpus)
      .selectExpr("bit_xor(xxhash64(id, xxhash64(id + 7)))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Load factor = median(measured calibration) / pinned calibration,
    * clamped to [1, 4]: a faster-than-pin machine never TIGHTENS budgets
    * below their pinned values, and a calibration glitch never writes a
    * >4x blank check (load that extreme should fail visibly and be
    * investigated, not absorbed). No pin → 1.0, today's behavior. */
  private[graft] def calibrationFactor(samples: Seq[Double],
      pinned: Option[Double]): Double = pinned match {
    case Some(p) if p > 0 && samples.nonEmpty =>
      val s = samples.sorted
      math.min(MaxLoadFactor, math.max(1.0, s(s.size / 2) / p))
    case _ => 1.0
  }

  /** The flat {"name": seconds} budgets file — a regex pull of the pairs
    * avoids a JSON-library dependency. Includes [[CalibrationKey]] when
    * pinned. */
  private[graft] def parseBudgets(budgetJson: String): Map[String, Double] =
    """"([A-Za-z0-9_]+)"\s*:\s*([0-9.]+)""".r
      .findAllMatchIn(budgetJson).map(m => m.group(1) -> m.group(2).toDouble).toMap

  /** The budget compare, factored out so `BenchGateSpec` can grade the
    * breach/pass/unbudgeted behavior without a full bench run. Returns
    * (offenders as (query, measured, EFFECTIVE budget — pinned × load
    * factor), queries with no pinned budget). Failure markers (-1) never
    * count as "under budget" — the caller trips the gate on `failed > 0`
    * separately. A query's effective factor is the max of the global
    * (whole-run median) factor and its LOCAL per-segment factor, so a
    * transient spike stretches the budgets of exactly the stretch it
    * hit without loosening the rest of the board. */
  private[graft] def budgetCheck(results: Seq[(String, Double)], budgetJson: String,
      factor: Double = 1.0, perQueryFactor: Map[String, Double] = Map.empty)
      : (Seq[(String, Double, Double)], Seq[String]) = {
    val budgets = parseBudgets(budgetJson) - CalibrationKey
    def eff(k: String): Double = math.max(factor, perQueryFactor.getOrElse(k, 1.0))
    val over = results.collect { case (k, v)
      if v >= 0 && budgets.get(k).exists(b => v > b * eff(k)) =>
        (k, v, budgets(k) * eff(k)) }
    val unbudgeted = results.collect { case (k, _) if !budgets.contains(k) => k }
    (over, unbudgeted)
  }

  /** Queries whose pass depends on a LOCAL segment factor more than
    * 1.5x the global one — i.e. they would breach if their local
    * stretch were capped at `factor * 1.5`. These are the
    * self-inflicted-spike suspects (a change whose own GC/cache
    * pressure slows its segment's bracketing probes buys itself budget
    * the global median never sees): surfaced as a warning so they get
    * investigated, but NOT failed — genuine one-segment environmental
    * spikes (round 12 measured 4-6x) must still be absorbed. */
  private[graft] def localOnlyPasses(results: Seq[(String, Double)],
      budgetJson: String, factor: Double,
      perQueryFactor: Map[String, Double]): Seq[String] = {
    val budgets = parseBudgets(budgetJson) - CalibrationKey
    def eff(k: String, cap: Double): Double =
      math.max(factor, math.min(perQueryFactor.getOrElse(k, 1.0), cap))
    results.collect { case (k, v)
      if v >= 0 && budgets.get(k).exists(b =>
        v > b * eff(k, factor * 1.5) && v <= b * eff(k, MaxLoadFactor)) => k }
  }
}
