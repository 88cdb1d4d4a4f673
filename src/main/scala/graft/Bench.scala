package graft

import scala.jdk.CollectionConverters._

/** Benchmark main: runs every gated query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract). Each query is fully executed
  * through a noop data sink — `.count()` alone would let Catalyst prune
  * the projections and under-report; the noop sink materializes every
  * column of every row without write-side I/O.
  */
object Bench {

  /** Deliberately-exact BASELINE ARMS: each is the all-pairs / double-
    * pass oracle formulation of an operator whose scale-safe twin is
    * separately gated with the IDENTICAL oracle (qs12→qs16, qd02/
    * qd12→qd09, qt31→qt21's maintained index). They exist to prove the
    * twins exact, grow super-linearly with sf BY DESIGN, and are not
    * the plan anyone would ship at 100 TB — so the headline total
    * reports the shippable plans and these are timed into a separate
    * `baseline_arms` bucket (they still run, still hash-gate at every
    * scale, and still feed regression detection).
    */
  val BaselineArms: Set[String] = Set(
    "qs12_sparse_cosine", "qt31_rm3_expansion",
    "qd02_ngram_jaccard", "qd12_containment",
    // r17 (verdict #3): the exact all-pairs cosine arm and the fusion
    // that composes two exact quadratic arms — their scale-path twins
    // are qp03 (cluster-bounded cosine) and qp13 (prefix-Jaccard ∪
    // cluster-bounded cosine under the same full-outer/flags contract)
    "qs02_embedding_neardup", "qp04_dedup_fusion")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.session("graft-bench")

    // one warm-up pass so JIT/codegen/classloading don't dominate query 1
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()

    // a failed query reports -1, never its (tiny) time-to-throw: a broken
    // query must not masquerade as a fast one.
    // After every entry, dead localCheckpoint blocks are swept
    // (graft.Blocks scaladoc): un-swept they accumulate across the
    // 280-entry suite × 4 passes, pin storage memory in the shared
    // local-mode heap, and inflate every later entry — the round-16
    // fixed-cost creep (common entries +10%, warehouse_build +60%).
    // The sweep is OUTSIDE the timed window: reclaiming the PREVIOUS
    // entry's garbage is harness work, not query work.
    def timeOne(q: graft.queries.Q): Double = {
      val sec =
        try {
          val t0 = System.nanoTime()
          q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
            -1.0
        }
      Blocks.sweepLocalCheckpoints(spark)
      sec
    }
    def reportPinned(tag: String): Unit = {
      val (n, mem, disk) = Blocks.storagePinned(spark)
      System.err.println(f"[bench] pinned storage $tag: rdds=$n " +
        f"mem=${mem / 1048576.0}%.1f MiB disk=${disk / 1048576.0}%.1f MiB")
    }

    // UNTIMED pre-warm pass over the full suite BEFORE the warehouse
    // timing and the timed passes: the build-once gates (qj snapshot
    // tables, qr11 catalog registration) construct their layouts on
    // first execution, so without this their pass-1 sample measures
    // table construction, not the query — 45 of r11's 228 entries read
    // `noisy` (spread > 3x) for exactly that reason. The warm pass also
    // absorbs first-execution JIT/codegen across the suite.
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM", "1") == "1")
      SparkEntry.allQueries.foreach(timeOne)
    reportPinned("after warm pass")

    // the one-shot star materialization, forced from scratch — this is
    // the number comparable to the reference's end-to-end dimensional
    // ETL (BASELINE.md: 16 s); the qr/qv queries then read the stored
    // tables, exactly like the reference's views query stored tables
    val tWh = System.nanoTime()
    graft.refstar.Warehouse.rebuild(spark)
    val warehouseSec = (System.nanoTime() - tWh) / 1e9

    // three timed passes, keep the per-query minimum: JVM JIT + codegen
    // compilation dominate first-execution times at small scale, this
    // host shows 10-20x transient per-query CPU-steal outliers, and the
    // steady-state minimum is what predicts cluster throughput.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // PASS-MAJOR ordering: run the whole suite, then repeat it. Round 8
    // ran each query's passes back-to-back, so a single multi-second
    // CPU-steal episode on this host covered ALL of one query's passes
    // and produced tightly-clustered slow minima that min-of-N cannot
    // reject (qs01 read 13x slow in r8; the same code in full-bench
    // context re-measures at its r7 time). Interleaving separates one
    // query's samples by the whole-suite wall (~60 s), so a steal
    // episode shorter than a pass inflates at most one sample per query.
    val queryList = SparkEntry.allQueries
    val passMatrix: Seq[Seq[Double]] =
      (1 to passes).map(_ => queryList.map(timeOne))
    val results: Seq[(String, Seq[Double])] =
      ("warehouse_build" -> Seq(warehouseSec)) +:
        queryList.zipWithIndex.map { case (q, i) =>
          q.name -> passMatrix.map(_(i))
        }
    val qs = results
      .map { case (k, v) => "\"" + k + f"\":${v.min}%.3f" }
      .mkString("{", ",", "}")
    // per-pass times alongside the minima: this host shows 10-20x
    // transient CPU-steal outliers, and a min with its passes next to it
    // lets a reader machine-detect "one bad pass" vs a real regression
    val pj = results
      .map { case (k, v) => "\"" + k + "\":[" + v.map(x => f"$x%.3f").mkString(",") + "]" }
      .mkString("{", ",", "}")
    // per-query spread (max/min over successful passes): spread > 3x
    // means the samples disagree wildly — steal noise, not signal; the
    // digest's `noisy` counter makes those machine-separable from real
    // regressions without hand-parsing the pass arrays
    def spreadOf(v: Seq[Double]): Double = {
      val ok = v.filter(_ >= 0)
      if (ok.isEmpty || ok.min <= 0) 0.0 else ok.max / ok.min
    }
    val spreads = results.map { case (k, v) => k -> spreadOf(v) }
    val sj = spreads
      .map { case (k, s) => "\"" + k + f"\":$s%.2f" }
      .mkString("{", ",", "}")
    val noisy = spreads.count(_._2 > 3.0)
    val failed = results.filter(_._2.min < 0).map(_._1)
    // headline total = the shippable plans; the exact baseline arms
    // (see BaselineArms) report in their own bucket
    val (armResults, headResults) =
      results.partition(r => BaselineArms.contains(r._1))
    val total = headResults.map(_._2.min).filter(_ >= 0).sum
    val armsTotal = armResults.map(_._2.min).filter(_ >= 0).sum
    // stdout gets a DIGEST line (<200 bytes): three rounds of driver
    // artifacts came back `parsed: null` because even the minima-only map
    // for 100+ queries (~3.5 KB) exceeds the ~2 KB stdout tail the driver
    // retains. The per-query minima and per-pass arrays land in the
    // bench_out.json file instead.
    // ---- cross-round regression audit -------------------------------
    // bench_out.json is overwritten every run, and the driver's
    // BENCH_r{N}.json archives only the stdout digest — so until r12 a
    // per-query regression hidden inside a growing suite total was
    // undetectable from committed artifacts (r8's qs01 regression was
    // nearly missed exactly that way). Each run now also writes a
    // round-stamped bench_out_r{N}.json (round inferred from the
    // driver's BENCH_r*.json archives in the same directory) and diffs
    // its minima against the newest prior round's archive: >2x on a
    // >=0.2s query is named loudly. scripts/bench_diff.py replays the
    // same diff between any two archived rounds.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_out.json")
    val outDir = java.nio.file.Paths.get(out).toAbsolutePath.getParent
    def roundsOf(pattern: scala.util.matching.Regex): Seq[Int] = {
      val names =
        try java.nio.file.Files.list(outDir).iterator().asScala
          .map(_.getFileName.toString).toSeq
        catch { case _: Throwable => Nil }
      names.collect { case pattern(n) => n.toInt }.sorted
    }
    val round = roundsOf("""BENCH_r(\d+)\.json""".r).lastOption.getOrElse(0) + 1
    val prevArchived = roundsOf("""bench_out_r(\d+)\.json""".r)
      .filter(_ < round).lastOption
    val minRe = """"([^"]+)":(-?\d+(?:\.\d+)?)""".r
    // brace-balanced extraction of the queries object (a takeWhile to
    // the first '}' would silently truncate if the object ever nested),
    // and an empty parse against a non-empty run FAILS LOUDLY instead
    // of quietly disabling regression detection
    def minimaOf(json: String): Map[String, Double] = {
      val start = json.indexOf("\"queries\":{")
      if (start < 0) Map.empty
      else {
        var i = start + 10
        var depth = 0
        val sb = new StringBuilder
        var go = true
        while (go && i < json.length) {
          val ch = json.charAt(i)
          if (ch == '{') depth += 1
          if (depth > 0) sb.append(ch)
          if (ch == '}') { depth -= 1; go = depth > 0 }
          i += 1
        }
        minRe.findAllMatchIn(sb.toString)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    val (regressions: Seq[(String, Double, Double)],
         drifts: Seq[(String, Double, Double)],
         growth: String) = prevArchived match {
      case None => (Nil, Nil, "null")
      case Some(p) =>
        val prevJson = java.nio.file.Files.readString(
          outDir.resolve(f"bench_out_r$p%02d.json"))
        // minima are only comparable like-for-like: skip the diff when
        // the prior archive ran at a different scale than this run
        val prevSf = """"sf":"([^"]*)"""".r.findFirstMatchIn(prevJson)
          .map(_.group(1)).getOrElse("")
        if (prevSf != sfDir) (Nil, Nil, "null")
        else {
          val prev = minimaOf(prevJson)
          if (prev.isEmpty && results.nonEmpty)
            System.err.println(
              s"[bench] WARNING: r$p archive parsed to ZERO minima — " +
                "regression detection disabled this run; inspect " +
                outDir.resolve(f"bench_out_r$p%02d.json").toString)
          val reg = results.flatMap { case (k, v) =>
            val cur = v.min
            prev.get(k).collect {
              case old if old >= 0.2 && cur >= 0 && cur > 2.0 * old =>
                (k, old, cur)
            }
          }
          // sub-threshold creep watch: the top-5 ratio drifts, even
          // <2x, go into the archived artifact — three consecutive
          // 1.5x creeps on one query compound to 3.4x, and without
          // this trail each round's diff individually stays silent
          val drf = results.flatMap { case (k, v) =>
            val cur = v.min
            prev.get(k).collect {
              case old if old >= 0.2 && cur > old => (k, old, cur)
            }
          }.sortBy { case (_, old, cur) => -(cur / old) }.take(5)
          // suite-growth budget: as the suite grows ~20 queries/round,
          // a fixed-cost creep in shared harness stages can hide inside
          // "we added queries" — compare the per-entry cost against the
          // prior round and flag when it outgrows entry growth by >25%
          // per-entry cost compares SUCCESSFUL entries on both sides:
          // `total` already excludes failed (negative) minima, so the
          // denominators must too — a failed entry in either archive
          // would otherwise shrink its side's per-entry cost and
          // fabricate (or mask) a BUDGET flag
          // arms are excluded on BOTH sides (prior archives carry them
          // inside `queries` too), so the per-entry ratio compares
          // headline plans like-for-like across the bucket split
          val prevOk = prev.collect {
            case (k, v) if v >= 0 && !BaselineArms.contains(k) => v
          }.toSeq
          val prevTotal = prevOk.sum
          val curN = headResults.count(_._2.min >= 0)
          val grw =
            if (prevOk.isEmpty || prevTotal <= 0 || curN == 0) "null"
            else {
              val perEntryRatio =
                (total / curN) / (prevTotal / prevOk.size)
              if (perEntryRatio > 1.25)
                System.err.println(f"[bench] BUDGET per-entry cost grew " +
                  f"$perEntryRatio%.2fx vs r$p%02d " +
                  f"($total%.1f s / $curN entries vs " +
                  f"$prevTotal%.1f s / ${prevOk.size}) — fixed-cost creep?")
              f"""{"prev_total":$prevTotal%.3f,"prev_n":${prevOk.size},""" +
                f""""per_entry_ratio":$perEntryRatio%.3f,""" +
                f""""flag":${perEntryRatio > 1.25}}"""
            }
          (reg, drf, grw)
        }
    }
    regressions.foreach { case (k, old, cur) =>
      System.err.println(f"[bench] REGRESSION $k: $old%.3f s -> $cur%.3f s " +
        f"(${cur / old}%.1fx vs r${prevArchived.get}%02d)")
    }
    val rj = regressions
      .map { case (k, old, cur) => "\"" + k + f"""\":[$old%.3f,$cur%.3f]""" }
      .mkString("{", ",", "}")
    val dj = drifts
      .map { case (k, old, cur) => "\"" + k + f"""\":[$old%.3f,$cur%.3f]""" }
      .mkString("{", ",", "}")
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.length},"baseline_arms":$armsTotal%.3f,"warehouse_build":$warehouseSec%.3f,"failed":${failed.length},"noisy":$noisy,"regressed":${regressions.length},"sf":"$sfDir"}"""
    println(line)
    val full =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","round":$round,"vs_round":${prevArchived.getOrElse(-1)},"baseline_arms":$armsTotal%.3f,"queries":$qs,"passes":$pj,"spread":$sj,"regressions":$rj,"top_drifts":$dj,"growth":$growth,"failed":${failed.length},"noisy":$noisy,"sf":"$sfDir"}"""
    // the round archive is only written at the driver's per-round scale
    // (sf0.1) so local sf0.01/sf1 iteration runs never clobber it with
    // unlike-for-unlike minima; bench_out.json itself always reflects
    // the latest run whatever the scale.
    // ONE ARTIFACT PER PROVENANCE (r16 verdict #8): a round's archive
    // is never overwritten — if bench_out_r{N}.json already exists
    // (e.g. the builder's quiet-host run landed first and the driver
    // re-runs later, or vice versa), subsequent runs write
    // bench_out_r{N}_2.json, _3.json, … so a committed artifact and a
    // later run of the same round remain separately readable instead
    // of one filename carrying two provenances.
    val archive =
      if (sfDir.replaceAll("/+$", "").endsWith("sf0.1")) {
        val base = outDir.resolve(f"bench_out_r$round%02d.json")
        val slot =
          if (!java.nio.file.Files.exists(base)) base
          else Iterator.from(2)
            .map(k => outDir.resolve(f"bench_out_r$round%02d_$k.json"))
            .find(p => !java.nio.file.Files.exists(p)).get
        Seq(slot.toString)
      } else Nil
    for (p <- out +: archive) {
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), full + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] write $p: $e") }
    }
    reportPinned("at end")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] FAILED queries: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
