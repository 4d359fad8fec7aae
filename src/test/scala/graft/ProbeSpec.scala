package graft

/** `graft.Probe` on the shared session: the lines each mode promises. */
class ProbeSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  test("a batch gate prints per-rep fingerprints and the last rep's jobs") {
    val out = Probe.run(spark, Seq(d, "q27_case_when"))
    val reps = out.filter(_.startsWith("[probe] q27_case_when rep"))
    assert(reps.size === Probe.Reps, out.mkString("\n"))
    assert(reps.forall(l => Seq("rows=", "shuffle_bytes=", "shuffle_recs=",
      "rows_read=", "gc_ms=", "compiles=").forall(l.contains)), reps)
    val jobs = out.filter(_.startsWith("[probe]   job "))
    assert(jobs.nonEmpty && jobs.forall(_.contains(" site=")), out.mkString("\n"))
    assert(out.exists(_.startsWith(s"[probe] q27_case_when jobs=${jobs.size} ")))
    assert(!out.exists(_.startsWith("[progress]")), "a batch gate has no micro-batches")
  }

  test("a streaming gate prints one [progress] line per micro-batch") {
    val out = Probe.run(spark, Seq(d, "q65_stream_dedup"))
    val batches = out.filter(_.startsWith("[progress] batch="))
    assert(batches.nonEmpty, out.mkString("\n"))
    assert(batches.forall(l => l.contains(" rows=") && l.contains(" durations={") &&
      l.contains("dedupeWithinWatermark{")), batches)
    // the last rep only: batch ids restart once
    assert(batches.count(_.startsWith("[progress] batch=0 ")) === 1, batches)
  }

  test("--plan prints the formatted physical plan") {
    val out = Probe.run(spark, Seq("--plan", d, "q04_join_multiway"))
    assert(out.exists(_.contains("=== q04_join_multiway ===")))
    assert(out.exists(_.contains("== Physical Plan ==")), out.mkString("\n"))
  }

  test("a missing gate list or an unknown gate is an argument error") {
    intercept[IllegalArgumentException](Probe.run(spark, Seq(d)))
    intercept[IllegalArgumentException](Probe.run(spark, Seq(d, "no_such_gate")))
  }
}
