package graft

import graft.tools.Profile

/** The profiler of record over a batch query, the dedup gate, a
  * stream-stream join and a name that throws, at sf0.001. */
class ProfileSpec extends SparkSpec {

  test("Profile records every layer per query, survives a throwing query, removes its listeners") {
    val listenersBefore = spark.streams.listListeners().length
    val names = Seq("q_ingest_flatten", "q_no_such_query", "q_dedup_gate", "q_stream_join")
    val records = Profile.run(spark, sf0001, names)
    assert(records.map(_.query) === names)

    val fields = Seq("query", "construct_s", "analysis_ms", "optimization_ms", "planning_ms",
      "execute_s", "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
      "spill_bytes", "peak_execution_memory_bytes", "job_s_by_label", "batches")
    records.foreach { r =>
      val keys = r.json.obj.map(_._1)
      assert(fields.forall(keys.contains), s"${r.query} lacks ${fields.diff(keys)}")
    }

    val (failed, ok) = records.partition(_.error.isDefined)
    assert(failed.map(_.query) === Seq("q_no_such_query"))
    assert(failed.head.json.obj.map(_._1).contains("error"))
    assert(failed.head.constructS === -1.0 && failed.head.executeS === -1.0)
    ok.foreach { r =>
      assert(r.jobs > 0 && r.tasks >= r.jobs, r.query)
      assert(r.constructS >= 0 && r.executeS > 0, r.query)
      assert(r.catalystMs > 0, r.query)
      assert(!r.json.obj.map(_._1).contains("error"), r.query)
    }

    val byName = records.map(r => r.query -> r).toMap
    val gateLabels = byName("q_dedup_gate").jobSecondsByLabel.keySet
    assert(gateLabels.exists(_.startsWith("gate[0] ")), gateLabels)
    assert(byName("q_stream_join").batches.exists(_.durationMs.contains("addBatch")),
      byName("q_stream_join").batches)
    // batch queries see no streaming progress, and no label is the fence's
    assert(byName("q_ingest_flatten").batches.isEmpty)
    assert(!records.flatMap(_.jobSecondsByLabel.keys).exists(_.contains("fence")))

    assert(spark.streams.listListeners().length === listenersBefore)
  }
}
