package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

/** observe() QC counters ride the pipeline job itself — no second scan.
  * The observed row and track counts must equal an independent count of
  * the QC-filtered input and the pipeline's output row count, collected
  * from the same single action that produced the pipeline output. */
class PipelineObserveSpec extends SparkSpec {

  test("pipeline observation reports QC survivor counts from the same job") {
    // fresh session: a registered Observation makes the session's
    // (non-serializable) ObservationManager reachable from closures
    // built later on the same session — MLlib model.transform then
    // fails Task-not-serializable. Isolating the observation in its
    // own session is the documented usage pattern.
    val s2 = spark.newSession()
    val ev = Tables.events(s2, sfDir)
    val obs = Observation("qc")
    val out = Pipeline.fullObserved(ev, Some(obs))
    val nTracks = out.count() // the ONE action; metrics collected as a side effect
    val m = obs.get
    val filtered = graft.operators.Quality
      .filterSizeAndObservations(ev, "user_id", col("value"), 10.0, 50L)
    val expectedRows = filtered.count()
    val expectedTracks = filtered.select("user_id").distinct().count()
    assert(expectedRows > 0 && nTracks > 0)
    // exact: both counters ride the per-track aggregate
    assert(m("qc_rows") == expectedRows, s"observed ${m("qc_rows")} != $expectedRows")
    assert(m("qc_tracks") == nTracks, s"observed ${m("qc_tracks")} != $nTracks")
    assert(nTracks == expectedTracks)
  }
}
