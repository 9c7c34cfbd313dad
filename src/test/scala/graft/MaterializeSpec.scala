package graft

import graft.textops.{Curation, Dedup}
import graft.util.Materialize
import org.apache.spark.sql.SparkSession

/** The materialization knob (`spark.graft.materialize.mode`) trades
  * executor-loss recovery for speed — it must NEVER change results.
  * Runs the two operators that lean hardest on barriers (minhash
  * near-dups: one barrier feeding three join branches; cluster
  * resolution: a barrier per contraction round) under both modes and
  * asserts identical output. Each run sets the mode on its own
  * `newSession()` and builds its inputs there, since a barrier reads the
  * mode from its input's session.
  */
class MaterializeSpec extends SparkSpec {

  private def docs(s: SparkSession) = {
    import s.implicits._
    (0L until 40L).map { i =>
      val base = s"shared prefix tokens alpha beta gamma delta epsilon zeta " +
        s"eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau"
      val text = if (i % 4 == 0) base else s"$base unique tail $i ${i * 7}"
      (i, text)
    }.toDF("doc_id", "text")
  }

  private def underMode[A](mode: String)(f: SparkSession => A): A = {
    val s = spark.newSession()
    s.conf.set(Materialize.ModeKey, mode)
    if (mode == "reliable" && spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(tmpDir("reliable-ckpt"))
    f(s)
  }

  test("local and reliable modes produce identical minhash near-dup pairs") {
    def run(s: SparkSession) = Dedup.minhashNearDups(docs(s), "doc_id", "text",
        n = 3, bands = 16, rowsPerBand = 4, threshold = 0.6)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val local = underMode("local")(run)
    val reliable = underMode("reliable")(run)
    assert(local.nonEmpty, "fixture must produce near-dup pairs")
    assert(local === reliable)
  }

  test("local and reliable modes produce identical cluster resolutions") {
    def run(s: SparkSession) = {
      import s.implicits._
      val d = (0L until 100L).toDF("doc_id")
      val pairs = (0L until 99L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      Curation.neardupClusters(d, "doc_id", pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val local = underMode("local")(run)
    val reliable = underMode("reliable")(run)
    assert(local === reliable)
    assert(local.values.toSet === Set(0L))
  }

  test("unknown mode fails loudly") {
    intercept[IllegalArgumentException] {
      underMode("ram-only")(s => Materialize.barrier(docs(s)))
    }
  }
}
