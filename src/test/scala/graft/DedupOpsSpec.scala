package graft

import graft.textops.{Dedup, TextAnalysis}
import graft.simops.{Multimodal, Similarity}
import org.apache.spark.sql.functions._

class DedupOpsSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  test("exact dedup keeps min-id per identical text") {
    import spark.implicits._
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text")
      .orderBy("keeper_id").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 2L), (3L, 1L)))
    val surv = Dedup.exactSurvivors(df, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(surv.toSeq === Seq(1L, 3L))
  }

  test("minhash: identical texts always collide, jaccard=1") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = a // identical
    val c = "completely different words here that share nothing at all with others"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(df, "doc_id", "text",
      n = 3, bands = 8, rowsPerBand = 2, threshold = 0.9).collect()
    assert(pairs.length === 1)
    assert((pairs.head.getLong(0), pairs.head.getLong(1)) === (1L, 2L))
    assert(pairs.head.getDouble(2) === 1.0)
  }

  test("simhash: identical text -> distance 0; near text -> small distance") {
    import spark.implicits._
    val base = "spark streaming merge commit offset snapshot schema buffer flush upsert replay"
    val near = base + " extra"
    val far = "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp"
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far), (5L, ""))
      .toDF("doc_id", "text")
    val f = Dedup.simhashDf(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f(1L) === f(2L))
    // near: one extra token flips few vote signs; far: ~independent
    // fingerprints, expected distance ≈ 30 of 60 bits
    assert(java.lang.Long.bitCount(f(1L) ^ f(3L)) <= 16)
    assert(java.lang.Long.bitCount(f(1L) ^ f(4L)) > 20)
    // zero-token docs keep a row with fingerprint 0
    assert(f(5L) === 0L)
    // fingerprint matches a reference implementation of the md5-prefix
    // vote-sign construction (guards the cross-engine oracle contract)
    def ref(text: String): Long = {
      val toks = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
      val votes = new Array[Long](Dedup.SimhashBits)
      toks.foreach { t =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val lo = java.lang.Long.parseLong(hex.substring(0, 15), 16)
        val hi = java.lang.Long.parseLong(hex.substring(15, 30), 16)
        (0 until Dedup.SimhashBits).foreach { b =>
          val bit = if (b < 30) (lo >> b) & 1L else (hi >> (b - 30)) & 1L
          votes(b) += (if (bit == 1L) 1L else -1L)
        }
      }
      (0 until Dedup.SimhashBits)
        .map(b => if (votes(b) > 0) 1L << b else 0L).reduce(_ | _)
    }
    assert(f(1L) === ref(base))
    assert(f(4L) === ref(far))
  }

  test("simhash near-dups: pigeonhole buckets find all pairs within maxDist") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val df = Seq((1L, base), (2L, base), (3L, base + " lambda"),
      (4L, "unrelated words entirely disjoint from the others completely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(df, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical -> distance 0
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash block family scales with corpus size; recall is k-invariant") {
    import graft.textops.Dedup.simhashBlocks
    // smallest k whose key width 60(k-d)/k covers log2(n), capped at 8
    assert(simhashBlocks(500L) === 4)          // 15-bit keys suffice
    assert(simhashBlocks(30000L) === 4)
    assert(simhashBlocks(100000L) === 5)       // 24-bit keys
    assert(simhashBlocks(10000000L) === 5)
    assert(simhashBlocks(1000000000L) === 6)   // 30-bit keys at 10^9 docs
    assert(simhashBlocks(10000000000L) === 7)  // 34-bit keys at 10^10
    assert(simhashBlocks(Long.MaxValue) === 8) // cap: 37-bit keys, 56 tables
    // every k is recall-complete (pigeonhole): forcing the 10^9-doc table
    // family on a small corpus returns the identical pair set
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val df = Seq((1L, base), (2L, base), (3L, base + " lambda mu"),
      (4L, "unrelated words entirely disjoint from the others completely"),
      (5L, base + " nu"))
      .toDF("doc_id", "text")
    def pairsAt(n: Option[Long]) =
      Dedup.simhashNearDups(df, "doc_id", "text", maxDist = 3, corpusCount = n)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val atK4 = pairsAt(Some(500L))
    assert(pairsAt(Some(1000000000L)) === atK4, "k=6 family must match k=4")
    assert(pairsAt(None) === atK4, "counted corpus must match")
  }

  test("ANN dials derive from corpus size, with explicit override") {
    import graft.simops.Similarity.{autoCells, autoPlanes}
    assert(autoPlanes(100L) === 4)            // floor
    assert(autoPlanes(1024L) === 5)           // 1024/32 = 32 buckets
    assert(autoPlanes(1000000L) === 15)       // ~31k buckets of ~32
    assert(autoPlanes(1000000000L) === 24)    // ceiling
    assert(autoPlanes(1000000L, targetOccupancy = 1024) === 10)
    assert(autoCells(1000L) === 16)           // floor
    assert(autoCells(1000000L) === 3906)      // 10^6/256
    assert(autoCells(100000000000L) === 65536) // ceiling
    // auto path (nPlanes/nCells ≤ 0) returns valid results on a tiny corpus
    import spark.implicits._
    val vecs = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 3) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") < 2)
    assert(graft.simops.Similarity.lshTopK(vecs, q, "vec_id", "embedding",
      k = 3, nPlanes = 0).count() > 0)
    assert(graft.simops.Similarity.ivfTopK(vecs, q, "vec_id", "embedding",
      k = 3, nCells = 0, nProbe = 2).count() > 0)
  }

  test("deterministic k-means IVF centroids beat the raw seeds on cell quality") {
    import graft.simops.Similarity
    import spark.implicits._
    // 4 well-separated clusters; the 8 lowest ids (the raw quantizer's
    // seeds) ALL sit in cluster 0 — the worst case for the degenerate
    // lowest-id quantizer, which k-means must recover from
    val vecs = (0 until 100).map { i =>
      val c = if (i < 8) 0 else i % 4
      val v = Array.tabulate(8) { d =>
        val base = if (d == c * 2) 10f else 0f
        base + ((i * 31 + d * 7) % 5 - 2) * 0.1f
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    def avgCos(cents: org.apache.spark.sql.DataFrame): Double =
      Similarity.ivfAssign(
          vecs.select(col("vec_id").as("id"), col("embedding").as("__v")),
          cents, "id", "__v")
        .join(cents.withColumnRenamed("cid", "cid2"),
          col("cid") === col("cid2"))
        .select(avg(Similarity.cosine(col("__v"), col("__centroid"))))
        .head().getDouble(0)
    val raw = Similarity.ivfCentroids(vecs, "vec_id", "embedding", 8)
    val km = Similarity.ivfCentroidsKmeans(vecs, "vec_id", "embedding", 8, iters = 4)
    // deterministic: a second run reproduces the centroids exactly
    val km2 = Similarity.ivfCentroidsKmeans(vecs, "vec_id", "embedding", 8, iters = 4)
    assert(km.collect().map(_.toString).sorted
      sameElements km2.collect().map(_.toString).sorted)
    val (q0, q1) = (avgCos(raw), avgCos(km))
    assert(q1 > q0 + 0.02, f"k-means must tighten cells: raw=$q0%.4f km=$q1%.4f")
    // and it plugs into the search path
    assert(Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") < 2),
      "vec_id", "embedding", k = 3, nCells = 8, nProbe = 2,
      kmeansIters = 3).count() > 0)
  }

  test("k-means refinement costs ONE aggregation action per Lloyd round " +
      "(centroid state lives in a driver array, no per-round frame rebuild)") {
    import graft.simops.Similarity
    import spark.implicits._
    val dir = tmpDir("kmeans-jobs")
    (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 3) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
    // AQE materializes query stages as separate jobs — an isolated
    // session with it off makes one action = one job, so the count
    // measures DATA PASSES; it shares the SparkContext the listener watches
    val iso = spark.newSession()
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    val vecs = iso.read.parquet(dir)
    vecs.count() // file listing/footer work settles outside the counted window
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // the listener bus is async: settle = count unchanged for 300 ms
    def settle(): Int = {
      var last = -1; var cur = jobs.get(); var spins = 0
      while (cur != last && spins < 20) {
        last = cur; Thread.sleep(300); cur = jobs.get(); spins += 1
      }
      cur
    }
    try {
      settle(); jobs.set(0)
      Similarity.ivfCentroidsKmeans(vecs, "vec_id", "embedding", 8, iters = 2)
      val n = settle()
      // 1 seed collect + 1 sum-aggregation per round; the returned
      // centroid frame itself is lazy
      assert(n === 3, s"k-means(iters=2) must cost 3 actions (seed + 2 rounds), saw $n")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("autoBands solves the LSH S-curve over divisors of k") {
    import graft.textops.Dedup.autoBands
    assert(autoBands(64, 0.5) === ((16, 4)))  // (1/16)^(1/4) = 0.5 exactly
    assert(autoBands(64, 0.7) === ((8, 8)))   // (1/8)^(1/8) ≈ 0.771, nearest
    assert(autoBands(64, 0.2) === ((32, 2)))  // (1/32)^(1/2) ≈ 0.177
    assert(autoBands(64, 0.95) === ((2, 32))) // flattest curve available
    val (b, r) = autoBands(60, 0.6)
    assert(b * r === 60)
  }

  test("normalizeForDedup: case/number/layout variants collapse; distinct text survives") {
    import graft.textops.TextAnalysis.normalizeForDedup
    import spark.implicits._
    val df = Seq(
      (1L, "Total: 123 items\n  shipped  2024-01-05"),
      (2L, "total: 9 items shipped 1999-12-31"),   // same template, other numbers
      (3L, "TOTAL:   456 ITEMS SHIPPED   2000-01-01"), // case + layout variant
      (4L, "completely different content"))
      .toDF("doc_id", "text")
    val norm = df.select(col("doc_id"), normalizeForDedup(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(norm(1L) === "total: 0 items shipped 0-0-0")
    assert(norm(1L) === norm(2L) && norm(2L) === norm(3L),
      "template variants must normalize identically")
    assert(norm(4L) !== norm(1L))
  }

  test("ngram jaccard pairs: known overlap") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"),      // identical -> jaccard 1.0
      (3L, "x y z w v u")).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 2,
      threshold = 0.9).collect()
    assert(out.length === 1 &&
      (out.head.getLong(0), out.head.getLong(1)) === (1L, 2L))
  }

  test("brute-force knn: self excluded, k respected, cosine correct") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(df, df.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 2).collect()
    assert(out.length === 2)
    assert(out.map(_.getLong(1)).toSet === Set(1L, 2L)) // nearest two
    val top = out.find(_.getInt(2) == 1).get
    assert(top.getLong(1) === 1L)
  }

  test("lsh knn: results are a subset of brute-force candidates semantics") {
    import spark.implicits._
    val vecs = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(df, df.filter(col("vec_id") < 2),
      "vec_id", "embedding", k = 5, nPlanes = 4)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(2) <= 5))
    // deterministic across runs
    val rows2 = Similarity.lshTopK(df, df.filter(col("vec_id") < 2),
      "vec_id", "embedding", k = 5, nPlanes = 4).collect()
    assert(rows.map(_.toSeq).toSet === rows2.map(_.toSeq).toSet)
  }

  test("ivf knn: one cell per corpus row, probes widen recall, deterministic") {
    import spark.implicits._
    val vecs = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    // every corpus row lands in exactly one cell
    val cent = Similarity.ivfCentroids(df, "vec_id", "embedding", nCells = 8)
    val assigned = Similarity.ivfAssign(
      df.selectExpr("vec_id as neighbor_id", "embedding as __cv"),
      cent, "neighbor_id", "__cv")
    assert(assigned.count() === 60)
    assert(assigned.select("neighbor_id").distinct().count() === 60)
    val out = Similarity.ivfTopK(df, df.filter(col("vec_id") < 2),
      "vec_id", "embedding", k = 5, nCells = 8, nProbe = 2).collect()
    assert(out.nonEmpty && out.forall(_.getInt(2) <= 5))
    // no duplicate (query, neighbor) pairs despite multi-probe
    assert(out.map(r => (r.getLong(0), r.getLong(1))).distinct.length === out.length)
    // deterministic across runs
    val out2 = Similarity.ivfTopK(df, df.filter(col("vec_id") < 2),
      "vec_id", "embedding", k = 5, nCells = 8, nProbe = 2).collect()
    assert(out.map(_.toSeq).toSet === out2.map(_.toSeq).toSet)
    // more probes can only widen the candidate set: nProbe=8 == brute force
    val all = Similarity.ivfTopK(df, df.filter(col("vec_id") < 2),
      "vec_id", "embedding", k = 5, nCells = 8, nProbe = 8)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(df, df.filter(col("vec_id") < 2),
      "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all === brute)
  }

  test("text analysis: tokens, quality, lang-id, fingerprint") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog, in the house."),
      (2L, "der hund und die katze ist nicht ein haus mit garten für alle"),
      (3L, "le chat est dans la maison avec une souris pour le fromage"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.analyze(df, "text")
      .select("doc_id", "lang_id", "n_tokens", "fingerprint")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out(0)._2 === "en")
    assert(out(1)._2 === "de")
    assert(out(2)._2 === "fr")
    assert(out(0)._3 === 8)
    // rolling fingerprint matches a reference implementation
    def roll(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)
    assert(out(0)._4 === roll("the cat and the dog, in the house."))
  }

  test("multimodal: batched feature extraction is deterministic and typed") {
    val media = Multimodal.synthetic(spark, 90)
    val feats = Multimodal.extractFeatures(media)
    val rows = feats.collect()
    assert(rows.length === 90)
    assert(rows.forall(_.sha.length == 64))
    assert(rows.forall(_.features.length == 8))
    val again = Multimodal.extractFeatures(Multimodal.synthetic(spark, 90))
      .collect().map(r => r.media_id -> r.sha).toMap
    assert(rows.forall(r => again(r.media_id) == r.sha))
    // modality-specific decode units
    val img = rows.find(_.modality == "image").get
    assert(img.decoded_units === (64L + img.media_id % 64) * 64L)
  }
}
