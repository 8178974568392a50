package graftbench

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

class WorkloadsSpec extends AnyFunSuite {
  private val all = SparkEntry.queries.keySet

  test("the three workloads partition SparkEntry.queries exactly") {
    assert(Workloads.partitionErrors(all).isEmpty)
    assert(Workloads.members.keySet == Set("cmdb_batch", "llm_corpus", "stream_drains"))
    assert(Workloads.members.values.map(_.size).sum == all.size)
    assert(Workloads.members.values.reduce(_ ++ _) == all)
  }

  test("each workload is the union of its registry modules") {
    assert(Workloads.members("stream_drains") ==
      graft.streaming.StreamingGraded.queries.keySet)
    assert(Workloads.members("llm_corpus") ==
      (graft.operators.LlmOps.queries.keySet ++ graft.operators.Lsh.queries.keySet ++
        graft.operators.TrainingPipeline.queries.keySet))
  }

  test("partitionErrors names a query outside every workload and a stray member") {
    val errs = Workloads.partitionErrors(all + "ghost_query" - "i11_sync_pipeline")
    assert(errs.contains("ghost_query is in no workload"))
    assert(errs.contains("i11_sync_pipeline is not a registry query"))
  }

  test("the timed sample is a stable subset holding the pipeline and every stratum") {
    for (w <- Workloads.members.keys) {
      val s = Workloads.sample(w, full = false)
      assert(s.nonEmpty && s.toSet.subsetOf(Workloads.members(w)))
      assert(s.contains(Workloads.pipeline(w)))
      assert(s == s.distinct.sorted)
      for (st <- Workloads.strata(w)) {
        val k = math.max(1, math.round(st.size * Workloads.sampleShare(w)).toInt)
        val taken = st.count(q => s.contains(q) && q != Workloads.pipeline(w))
        assert(taken == k.min(st.count(_ != Workloads.pipeline(w))), s"$w stratum $st")
      }
      assert(s == Workloads.sample(w, full = false))
      assert(Workloads.sample(w, full = true).toSet == Workloads.members(w))
    }
  }

  test("the strata partition each workload by module and eager or lazy") {
    for (w <- Workloads.members.keys) {
      val st = Workloads.strata(w)
      assert(st.flatten.toSet == Workloads.members(w) && st.flatten.size == Workloads.members(w).size)
      for (s <- st) assert(s.forall(SparkEntry.eagerQueries) || !s.exists(SparkEntry.eagerQueries))
    }
  }

  test("every workload has at least two timed passes, so a traced run has both kinds") {
    assert(Workloads.passes.keySet == Workloads.members.keySet)
    assert(Workloads.passes.values.forall(_ >= 2))
  }

  test("sample positions are uniform-ish and in [0, 1)") {
    val ps = all.toSeq.map(Workloads.position)
    assert(ps.forall(p => p >= 0 && p < 1))
    assert(ps.count(_ < 0.5) > all.size / 4 && ps.count(_ < 0.5) < 3 * all.size / 4)
  }
}
