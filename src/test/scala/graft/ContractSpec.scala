package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract hygiene: the queries/oracle maps must stay in sync —
  * every oracle belongs to a declared query, and the set of
  * deliberately rows-only (approximate, hash-dependent) queries is
  * exactly the documented one, so a new query can't silently ship
  * without its correctness check. */
class ContractSpec extends AnyFunSuite {

  /** Empty since round 3: the formerly rows-only approximate ops
    * (s02–s05, d04, n01, n02) now emit pinned recall/coverage counts
    * with literal oracles — every declared query has a DuckDB check. */
  private val documentedRowsOnly = Set.empty[String]

  test("every oracle key names a declared query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("rows-only queries are exactly the documented approximate set") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly == documentedRowsOnly,
      s"undocumented rows-only queries: ${rowsOnly -- documentedRowsOnly}; " +
        s"documented-but-missing: ${documentedRowsOnly -- rowsOnly}")
  }

  test("query names follow the family naming scheme") {
    // One optional letter after the number: sibling exhibits of one
    // recipe under different fronts (s20 IVF / s20b graph).
    val pat = "^(q|d|t|s|m|n|st|p)[0-9]+[a-z]?_[a-z0-9_]+$".r
    val bad = SparkEntry.queries.keySet.filterNot(n => pat.matches(n))
    assert(bad.isEmpty, s"off-scheme query names: $bad")
  }

  test("no pinnedValues row is an unmeasured placeholder (all zeros)") {
    // Catches the round-5 failure class in seconds, without a Spark
    // session: a pin committed as (0,0,0) across EVERY column means
    // PinDump was never run for that query — PinsSpec would fail 4
    // minutes in; this fails immediately with the remedy. Per-QUERY,
    // not per-column: a measured zero column inside an otherwise
    // non-zero row is a legitimate census fact (t39's n_repetitive —
    // the fixture plants dup docs, not within-doc repetition), while a
    // never-measured placeholder is zero everywhere.
    Queries.pinnedValues.foreach { case (name, cols) =>
      val allZero = cols.forall { case (_, (v001, v01, v1)) =>
        v001 == 0L && v01 == 0L && v1 == 0L
      }
      assert(!allZero,
        s"""$name is pinned (0,0,0) on every column — an unmeasured """ +
          """placeholder. Run `sbt "runMain graft.tools.PinDump"` and """ +
          "paste the measured values into Queries.pinnedValues before " +
          "committing.")
    }
  }

  test("every pinnedValues entry names a declared query") {
    val orphans = Queries.pinnedValues.map(_._1).toSet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"pins without queries: $orphans")
  }

  test("query-id registry: names unique across maps, gaps and shared prefixes " +
      "are exactly the documented ones") {
    // Full names key every name-keyed artifact (guard medians, pins,
    // oracles, CORRECTNESS entries) — a declared/benchOnly collision
    // would silently merge two phases' histories.
    val declared = SparkEntry.queries.keySet
    val benchOnly = Queries.benchOnly.keySet
    val clash = declared.intersect(benchOnly)
    assert(clash.isEmpty, s"declared/benchOnly name collision: $clash")
    // Numeric-prefix census over the DECLARED queries: gaps in each
    // family's numbering must be exactly the registry's retired ids,
    // and prefixes carrying >1 declared query exactly the documented
    // shared set — an id reuse or an undocumented gap goes red here.
    val pref = "^([a-z]+)(\\d+)([a-z]?)_".r
    val byFamily = declared.toSeq.flatMap { n =>
      pref.findFirstMatchIn(n)
        .map(m => (m.group(1), m.group(2).toInt, m.group(3), n))
    }
    val gaps = byFamily.groupBy(_._1).flatMap { case (fam, entries) =>
      val nums = entries.map(_._2).toSet
      (1 to nums.max).filterNot(nums).map(i => s"$fam$i")
    }.toSet
    assert(gaps == Queries.retiredQueryIds,
      s"numbering gaps != registry: gaps=$gaps registry=${Queries.retiredQueryIds}")
    // Letter-suffixed ids (s20 vs s20b) are distinct prefixes.
    val shared = byFamily.groupBy(e => s"${e._1}${e._2}${e._3}")
      .collect { case (p, es) if es.map(_._4).distinct.size > 1 => p }.toSet
    assert(shared == Queries.sharedQueryPrefixes,
      s"multi-query prefixes != registry: $shared vs ${Queries.sharedQueryPrefixes}")
  }

  test("bench regression guard: parses both prior-artifact shapes and merges sources") {
    // The name is historical: there is one prior source now, the
    // committed baseline or an explicit path, and nothing is merged.
    val dir = java.nio.file.Files.createTempDirectory("graft_benchprev")
    try {
      // The committed baseline: a raw bench line, full per-phase map;
      // a crashed (-1) median is not a prior.
      java.nio.file.Files.writeString(dir.resolve("bench_baseline.json"),
        """{"metric":"total","value":9.9,"queries":{"a_q":2.0,"b_q":4.0,"c_q":0.2,"dead_q":-1.0}}""")
      // The driver wrapper: compact map under parsed.queries.
      java.nio.file.Files.writeString(dir.resolve("BENCH_r14.json"),
        """{"n":1,"tail":"...","parsed":{"queries":{"b_q":3.0}}}""")
      // An older round artifact that must NOT win the newest-selection.
      java.nio.file.Files.writeString(dir.resolve("BENCH_r09.json"),
        """{"n":1,"parsed":{"queries":{"b_q":99.0}}}""")
      val base = Some("bench_baseline.json" ->
        Map("a_q" -> 2.0, "b_q" -> 4.0, "c_q" -> 0.2))
      assert(Bench.priorMedians(None, dir) == base,
        "the committed baseline is the prior, full map, crashed median " +
          "dropped, no driver-artifact overlay")
      // A run's own output beside the baseline never becomes the prior,
      // so a second run cannot mask a regression the first one made.
      java.nio.file.Files.writeString(dir.resolve("bench.json"),
        """{"queries":{"a_q":9.0,"b_q":9.0,"dead_q":-1.0}}""")
      assert(Bench.priorMedians(None, dir) == base,
        "a bench.json written beside the baseline must not change the prior")
      // The wrapper shape still parses, for the compact line's carry of
      // the newest driver artifact's keys.
      assert(Bench.newestDriverBench(dir).map(_._1) == Some(14))
      assert(Bench.loadPriorQueries(dir.resolve("BENCH_r14.json")) ==
        Map("b_q" -> 3.0))
      // Explicit override takes precedence over the baseline.
      val Some((l2, m2)) = Bench.priorMedians(
        Some(dir.resolve("BENCH_r09.json").toString), dir): @unchecked
      assert(l2 == "BENCH_r09.json" && m2 == Map("b_q" -> 99.0))
      // Garbage or a missing file degrades to no-prior, never an exception.
      java.nio.file.Files.writeString(dir.resolve("bad.json"), "{not json")
      assert(Bench.priorMedians(Some(dir.resolve("bad.json").toString), dir).isEmpty)
      java.nio.file.Files.delete(dir.resolve("bench_baseline.json"))
      assert(Bench.priorMedians(None, dir).isEmpty)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(dir).iterator().asScala
        .foreach(java.nio.file.Files.delete)
      java.nio.file.Files.delete(dir)
    }
  }

  test("bench regression guard: the committed baseline covers every phase") {
    // A fresh clone is guarded against the whole phase set: a phase
    // renamed or added without a re-baseline fails here. The phase
    // thunks are only listed, never run, so no session is needed.
    val Some((label, m)) = Bench.priorMedians(None): @unchecked
    assert(label == "bench_baseline.json")
    val phases = Bench.artifactPhases(null, "").map(_._1).toSet ++
      SparkEntry.queries.keySet ++ Queries.benchOnly.keySet
    val (unguarded, stale) = (phases -- m.keySet, m.keySet -- phases)
    assert(unguarded.isEmpty && stale.isEmpty,
      s"unguarded phases: $unguarded; baseline-only keys: $stale")
    assert(Bench.loadPriorQueries(java.nio.file.Paths.get(label))
      .values.forall(_ >= 0), "every baseline median is a real wall")
  }

  test("bench regression guard: flags >1.5x on >=0.5s priors only, " +
      "min-of-samples adjudicates, crashes flag as failed") {
    val prior = Map("slow_q" -> 2.0, "ok_q" -> 2.0, "tiny_q" -> 0.2,
      "burst_q" -> 2.0, "dead_q" -> 2.0, "tinydead_q" -> 0.2)
    val cur = Seq(
      ("slow_q", 3.1, 3.0),    // median AND min degraded -> code-suspect
      ("ok_q", 2.9, 2.1),      // 2.9 <= 1.5*2.0 passes
      ("tiny_q", 5.0, 5.0),    // sub-0.5s prior exempt
      ("new_q", 9.0, 9.0),     // no prior exempt
      ("burst_q", 4.0, 2.2),   // flagged, but best sample at prior speed
      ("dead_q", -1.0, -1.0),  // crashed against a valid prior
      ("tinydead_q", -1.0, -1.0)) // crashed: floor gates ratios, not crashes
    assert(Bench.flagRegressions(cur, prior) == Seq(
      ("slow_q", 2.0, 3.1, 3.0, "code-suspect"),
      ("burst_q", 2.0, 4.0, 2.2, "host-swing"),
      ("dead_q", 2.0, -1.0, -1.0, "failed"),
      ("tinydead_q", 0.2, -1.0, -1.0, "failed")),
      "median>1.5x flags with min-of-samples verdict; working-to-" +
        "failing flags as failed regardless of the noise floor " +
        "(round-16 ADVICE); sub-0.5s priors exempt from RATIO flags " +
        "and no-prior exempt entirely")
  }

  test("bench regression guard consumes rerun probes: the r16 n10 " +
      "sustained-degradation fixture closes as host-swing") {
    // Verbatim from BENCH_r16.json / bench.json rerun_detail:
    // n10_part_build prior 2.479, session median 12.865, min-of-samples
    // 3.177 (= 1.28x, just past the 1.25x min rule), run-order samples
    // [3.18@31ms, 12.87@159ms, 23.19@88ms, 15.62@284ms] against a 33 ms
    // session-nominal probe. The written adjudication rule ("an
    // inflated probe next to the inflated wall closes the flag as host
    // degradation") must now be applied BY the verdict field: the
    // probe-normalized samples (12.87x33/159=2.67, 15.62x33/284=1.82,
    // ...) sit at prior speed, so this is host, not code.
    val fixture = Seq(
      (3.177, 31L), (12.87, 159L), (23.19, 88L), (15.62, 284L))
    val flags = Bench.flagRegressions(
      Seq(("n10_part_build", 12.865, 3.177)),
      Map("n10_part_build" -> 2.479),
      Map("n10_part_build" -> fixture),
      nominalProbeMs = 33L)
    assert(flags == Seq(
      ("n10_part_build", 2.479, 12.865, 3.177, "host-swing")),
      "every sample's wall inflated + probes inflated alongside = " +
        "sustained host degradation, never code-suspect")
    // Control: the same walls with HEALTHY probes (host fine, code
    // slow on every sample) must stay code-suspect — the probe data
    // distinguishes the two cases, not the walls.
    val healthy = fixture.map { case (w, _) => (w, 33L) }
    val flags2 = Bench.flagRegressions(
      Seq(("n10_part_build", 12.865, 3.177)),
      Map("n10_part_build" -> 2.479),
      Map("n10_part_build" -> healthy),
      nominalProbeMs = 33L)
    assert(flags2.map(_._5) == Seq("code-suspect"),
      "healthy probes + degraded walls on every sample stays code-suspect")
    // Crashed samples (wall -1) are excluded from the adjusted stats,
    // and a missing probe map falls back to the min-of-samples rule.
    val withCrash = (-1.0, 400L) +: fixture
    assert(Bench.flagRegressions(
      Seq(("n10_part_build", 12.865, 3.177)),
      Map("n10_part_build" -> 2.479),
      Map("n10_part_build" -> withCrash), 33L).map(_._5) ==
      Seq("host-swing"), "crashed walls don't poison the adjusted min")
    assert(Bench.flagRegressions(
      Seq(("n10_part_build", 12.865, 3.177)),
      Map("n10_part_build" -> 2.479)).map(_._5) == Seq("code-suspect"),
      "no probe data = the pre-r17 behavior (min rule only)")
  }

  test("bench host probe: fixed work, returns a plausible wall") {
    // One tiny probe (1 thread, 1M iters) — the contract is shape, not
    // speed: non-negative wall, and repeated calls don't accumulate
    // state (the sink is write-only).
    val a = Bench.hostProbeMillis(threads = 1, iters = 1000000L)
    val b = Bench.hostProbeMillis(threads = 1, iters = 1000000L)
    assert(a >= 0 && b >= 0, s"probe walls must be non-negative: $a, $b")
  }

  test("oracle SQL references only fixture tables") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val froms = "(?i)(?:FROM|JOIN)\\s+([a-z_][a-z0-9_]*)".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val known = tables ++ Set("unnest", "range") // table functions
      val cteNames = "(?i)([a-z_][a-z0-9_]*)\\s*(?:\\([a-z_, ]*\\))?\\s*AS\\s*\\(".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val unknown = froms -- known -- cteNames
      assert(unknown.isEmpty, s"$name references unknown tables: $unknown")
    }
  }
}
