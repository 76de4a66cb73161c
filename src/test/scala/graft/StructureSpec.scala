package graft

import org.scalatest.funsuite.AnyFunSuite

/** STRUCTURAL COST PINS for the heavy-query family beyond CC (whose pin
  * lives next to its operator in DedupSpec): jobs/stages/shuffles/tasks
  * per run are exact, deterministic scheduler facts — the round-10
  * protocol's replacement for VM wall-clock targets, extended to the
  * other four heavies the r10 ladder measured. Counts come from
  * [[CcStructure.measureRun]] (job-group-scoped listener, so a
  * concurrent suite on the shared context cannot pollute them) and are
  * only asserted under the baselined geometry (local[4],
  * shuffle.partitions=4, AQE on). Re-baseline via
  * `Test/runMain graft.HeavyStructProbe` ONLY on a legitimate
  * plan-shape change. */
class StructureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // (query, sf0.001 counts, sf0.01 counts) — probe-measured twice per
  // scale, identical across runs (HeavyStructProbe, round 11;
  // pagerank re-baselined round 13 by PagerankFlakeProbe, 30/30 at
  // sf0.01 + 10/10 at sf0.001 UNDER the concurrent load that flipped
  // the old shape — the r12 flake was AQE's broadcast-stage reuse
  // racing on the five-iteration-shared `deg` subtree, removed by the
  // one-time adjacency materialization). The 100 TB story in the
  // numbers: minhash/simhash/pagerank cost ZERO additional
  // jobs/stages/shuffles on 10x data (per-task data grows instead —
  // the property that survives a 1000-executor scale-up); BFS adds
  // rounds only because the corpus graph's reachable depth grows
  // (29->35 jobs), never because the plan degraded.
  // r19 re-baseline (HeavyStructProbe, two identical runs per SF):
  // minhash and simhash each gained the materializeOnce of the frame
  // their self-join reads on both sides — the eager count job (plus its
  // AQE query-stage sub-jobs) that REMOVED the duplicated md5/vote-
  // aggregate pass; minhash then folded the signature and token-set
  // hash passes into ONE materialized base (one scan+tokenize instead
  // of two, -1 job/stage/shuffle vs the intermediate shape); bfs and
  // pagerank are untouched.
  // Re-baselined when `Tables` reads began passing a cached schema
  // (HeavyStructProbe, two identical runs per SF, schemas warmed): each
  // table read no longer starts a one-task schema-inference job, so
  // every heavy lost one job, stage and task per read (minhash 1,
  // the others 2); shuffles are unchanged.
  private val pins = Seq(
    ("minhash", (10, 10, 5, 28), (10, 10, 5, 28)),
    ("simhash", (10, 10, 5, 25), (10, 10, 5, 25)),
    ("bfs", (27, 27, 12, 36), (33, 33, 15, 47)),
    ("pagerank", (21, 21, 9, 26), (21, 21, 9, 26)))

  test("heavy-query STRUCTURAL COST PINS: jobs/stages/shuffles/tasks " +
    "are exact at sf0.001 and sf0.01 for minhash LSH, scale-aware " +
    "simhash, BFS and pagerank (plan regressions fail deterministically; " +
    "wall-clock stays an observation)") {
    assume(CcStructure.baselineGeometry(spark),
      "pins are baselined for local[4]/partitions=4 — skipped under " +
        s"${spark.sparkContext.master}")
    val runs = HeavyStructProbe.Heavies.toMap
    for ((name, want001, want01) <- pins;
         (dir, want) <- Seq(TestSpark.Sf0001 -> want001,
           "/root/testdata/sf0.01" -> want01)) {
      CcStructure.warmSchemas(spark, dir)
      val got = CcStructure.measureRun(spark, name)(
        require(runs(name)(spark, dir) > 0, s"$name empty at $dir"))
      assert(got == want,
        s"$name @ $dir structural cost (jobs, stages, shuffles, tasks): " +
          s"got $got, pinned $want — a drift here is a real plan-shape " +
          "change, not load noise; re-probe (HeavyStructProbe) before " +
          "re-baselining")
    }
  }
}
