package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: (Long, String)*): DataFrame =
    texts.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'t' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")

  private val corpus = docs(
    0L -> "the quick brown fox jumps over the lazy dog today",
    1L -> "the quick brown fox jumps over the lazy dog today",   // exact dup of 0
    2L -> "the quick brown fox jumps over the lazy cat today",   // near dup of 0
    3L -> "completely different words about spark query engines here now",
    4L -> "tiny")                                                // < shingle size

  test("exact dedup keeps the minimum doc id per content hash") {
    val res = Dedup.exact(corpus).orderBy("keep_doc_id")
      .select("keep_doc_id", "n_copies").as[(Long, Long)].collect()
    assert(res.toSeq == Seq((0L, 2L), (2L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("identical documents get identical minhash signatures") {
    val sigs = Dedup.minhashSignatures(corpus)
      .groupBy("doc_id").agg(org.apache.spark.sql.functions.collect_list("mh"))
    val m = sigs.as[(Long, Seq[Long])].collect().toMap
    assert(m(0L).sorted == m(1L).sorted)
    assert(m(0L).sorted != m(3L).sorted)
    assert(!m.contains(4L)) // too short to shingle — excluded, by design
  }

  test("exact dups are always LSH candidates with all bands shared") {
    val cand = Dedup.lshCandidates(corpus)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(cand((0L, 1L)) == 4L) // 16 hashes / 4 rows per band = 4 bands
  }

  test("ngram jaccard: exact pair scores 1.0, near pair in (0,1)") {
    val pairs = Dedup.ngramJaccardPairs(corpus, n = 3, threshold = 0.01)
      .as[(Long, Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._4).toMap
    assert(pairs((0L, 1L)) == 1.0)
    val near = pairs((0L, 2L))
    assert(near > 0.3 && near < 1.0)
    assert(!pairs.contains((0L, 3L)))
  }

  test("simhash: equal for identical docs, close for near dups, far for unrelated") {
    val m = Dedup.simhash(corpus).as[(Long, Long)].collect().toMap
    assert(m(0L) == m(1L))
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(m(0L), m(2L)) <= hamming(m(0L), m(3L)))
  }

  test("shingle count: n tokens → n-2 trigram shingles (distinct)") {
    val sh = Dedup.shingles(docs(7L -> "a b c d e"), 3)
    assert(sh.count() == 3)
  }

  test("simhash pairs: exact dup found at hamming 0, unrelated docs absent") {
    val res = Dedup.simhashPairs(corpus)
      .as[(Long, Long, Int)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(res((0L, 1L)) == 0, "identical docs differ in 0 signature bits")
    assert(!res.contains((0L, 3L)) && !res.contains((1L, 3L)),
      "unrelated docs must not pair")
  }

  test("shingle memo never serves one corpus's shingles for another") {
    // Two corpora of one shape must each get their own shingles: the
    // unresolved plan string of a parquet read names NO path
    // ('UnresolvedDataSource ... paths: 1 provided'), so any reuse keyed on
    // it would serve the first corpus's shingles for the second.
    val dirA = java.nio.file.Files.createTempDirectory("memoA")
      .resolve("d.parquet").toString
    val dirB = java.nio.file.Files.createTempDirectory("memoB")
      .resolve("d.parquet").toString
    docs(0L -> "alpha beta gamma delta epsilon").write.parquet(dirA)
    docs(0L -> "one two three four five six seven eight").write.parquet(dirB)
    // 5 tokens → 3 trigram shingles; 8 tokens → 6
    assert(Dedup.shingles(spark.read.parquet(dirA), 3).count() == 3)
    assert(Dedup.shingles(spark.read.parquet(dirB), 3).count() == 6)
  }

  test("label propagation fails loudly when the round bound is hit unconverged") {
    // chain 0-1-2-...-299: diameter 299 needs ~log2(299) ≈ 9 rounds with
    // pointer jumping, so a bound of 3 MUST fail — silently returning
    // partial labels would diverge from the transitive-closure oracle
    val es = (0L until 299L).map(i => (i, i + 1))
    val edges = es.toDF("src", "dst").union(es.map(_.swap).toDF("src", "dst"))
    val e = intercept[IllegalArgumentException] {
      Dedup.propagateLabels(edges, maxIters = 3)
    }
    assert(e.getMessage.contains("did not converge"))
    // the same chain with a sufficient bound resolves to one component —
    // and in O(log diameter) rounds, the scale claim the jump step buys
    val (ok, rounds) = Dedup.propagateLabelsWithRounds(edges, maxIters = 64)
    val m = ok.as[(Long, Long)].collect().toMap
    assert(m.size == 300 && m.values.forall(_ == 0L))
    assert(rounds <= 12, s"expected O(log 299) ≈ 9 rounds, got $rounds")
  }

  test("dedup clusters: components resolve to min-id survivor; singletons absent") {
    // 0,1,2 identical (one component), 3,4 identical (another), 5 unique
    // (never a candidate, so not a graph vertex).
    val c = docs(
      0L -> "the quick brown fox jumps over the lazy dog today",
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog today",
      3L -> "completely different words about spark query engines here now",
      4L -> "completely different words about spark query engines here now",
      5L -> "unique text with nothing shared among any other corpus member")
    val res = Dedup.dedupClusters(c)
      .as[(Long, Long, Int)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(res.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(Seq(0L, 1L, 2L).forall(res(_)._1 == 0L))
    assert(Seq(3L, 4L).forall(res(_)._1 == 3L))
    assert(res.collect { case (id, (_, 1)) => id }.toSet == Set(0L, 3L))
  }

  test("ngramNovelty: dup scores 0, partially-new doc scores its new fraction") {
    val c = docs(
      0L -> "a b c d",          // shingles: "a b c", "b c d" — all first
      1L -> "a b c d",          // exact dup → nothing novel
      2L -> "a b c x y z")      // 4 shingles, "a b c" already seen → 3/4
    val r = Dedup.ngramNovelty(c)
      .select("doc_id", "n_shingles", "novel")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(r(0L) == ((2L, 2L)))
    assert(r(1L) == ((2L, 0L)))
    assert(r(2L) == ((4L, 3L)))
  }

  test("canonicalByQuality picks the LONGEST cluster member, not the min id") {
    // 0,1,2 near-identical but 1 is longer (higher quality stand-in);
    // 5 is a singleton cluster of itself
    val c = docs(
      0L -> "the quick brown fox jumps over the lazy dog today",
      1L -> "the quick brown fox jumps over the lazy dog today extra",
      2L -> "the quick brown fox jumps over the lazy dog today",
      5L -> "unique text with nothing shared among any other corpus member")
    val r = Dedup.canonicalByQuality(c)
      .select("cluster_id", "n_members", "canonical_id")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(r(0L) == ((3L, 1L)), "longest member (id 1) must be canonical")
    assert(r(5L) == ((1L, 5L)), "singleton is its own canonical")
  }

  test("canonicalByQuality ties break to the smaller doc id") {
    val c = docs(
      0L -> "the quick brown fox jumps over the lazy dog today",
      1L -> "the quick brown fox jumps over the lazy dog today")
    val r = Dedup.canonicalByQuality(c)
      .select("canonical_id").as[Long].collect()
    assert(r.toSeq == Seq(0L))
  }

  test("sourceOverlap: canonical source pair; totals equal the candidate pairs") {
    val d = graft.sources.TestData.documents(spark, sf)
    val cells = Dedup.sourceOverlap(d)
      .as[(String, String, Long)].collect().toSeq
    assert(cells.nonEmpty)
    assert(cells.forall { case (lo, hi, n) => lo <= hi && n > 0 })
    val totalPairs = Dedup.lshCandidates(d).count()
    assert(cells.map(_._3).sum == totalPairs)
  }

  test("prefixJaccardJoin finds EXACTLY the brute-force pair set (recall-complete)") {
    val d = graft.sources.TestData.documents(spark, sf)
    val sh = Dedup.shingles(d, 3).select("doc_id", "sh").as[(Long, String)]
      .collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val ids = sh.keys.toSeq.sorted
    val expected = (for {
      i <- ids; j <- ids if i < j
      inter = (sh(i) & sh(j)).size
      uni = sh(i).size + sh(j).size - inter
      if inter * 100 >= uni * 60
    } yield (i, j, inter.toLong, uni.toLong)).toSet
    val got = Dedup.prefixJaccardJoin(d)
      .select("doc_a", "doc_b", "n_inter", "n_union")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty, "corpus must contain at least one qualifying pair")
  }

  test("prefixJaccardJoin positional filter: prunes candidates, never results") {
    val d = graft.sources.TestData.documents(spark, sf)
    val loose = Dedup.prefixJaccardCandidates(d, positional = false)
      .as[(Long, Long)].collect().toSet
    val tight = Dedup.prefixJaccardCandidates(d, positional = true)
      .as[(Long, Long)].collect().toSet
    assert(tight.subsetOf(loose), "positional filter may only REMOVE candidates")
    info(s"candidates ${loose.size} -> ${tight.size} after the positional filter")
    // every final pair must still be among the filtered candidates —
    // with the brute-force equality test above, this proves the filter
    // is exactness-preserving
    val results = Dedup.prefixJaccardJoin(d).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(results.subsetOf(tight))
  }

  test("containmentJoin finds EXACTLY the brute-force containment pairs") {
    val d = graft.sources.TestData.documents(spark, sf)
    val sh = Dedup.shingles(d, 3).select("doc_id", "sh").as[(Long, String)]
      .collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val srcOf = d.select("doc_id", "source").as[(Long, String)].collect().toMap
    val bench = srcOf.collect { case (id, s) if s == "src0" => id }.toSet
    val corpus = srcOf.keySet -- bench
    val expected = (for {
      q <- bench.toSeq; c <- corpus.toSeq
      if sh.contains(q) && sh.contains(c)
      inter = (sh(q) & sh(c)).size
      if inter * 100 >= sh(q).size * 80
    } yield (q, c, inter.toLong, sh(q).size.toLong)).toSet
    val got = Dedup.containmentJoin(d)
      .select("bench_id", "corpus_id", "n_inter", "n_q")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty, "corpus must contain at least one contaminated pair")
  }

  test("prefixJaccardJoin rejects thresholds off the 1/100 grid") {
    val d = graft.sources.TestData.documents(spark, sf)
    intercept[IllegalArgumentException](Dedup.prefixJaccardJoin(d, threshold = 0.615))
    intercept[IllegalArgumentException](Dedup.prefixJaccardJoinSql(threshold = 0.615))
    // on-grid thresholds are accepted
    Dedup.prefixJaccardJoinSql(threshold = 0.85)
  }

  test("kmvDistinct: exact below k, matches the bottom-k formula above, bounded error") {
    // synthetic saturated source: 300 docs x 3 distinct trigrams >> k=256
    val big = (0 until 300).map(i => (i.toLong, s"a$i b$i c$i d$i e$i", "en", "srcbig", 20))
    val small = Seq((9000L, "tiny doc text here now", "en", "srcsmall", 22))
    val d = (big ++ small).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.kmvDistinct(d)
      .select("source", "n_exact", "kmv_estimate", "rel_err")
      .as[(String, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    // brute-force reference from the engine's own shingle ids
    val sids = Dedup.docShingles(d, 3)
      .join(d.select("doc_id", "source"), Seq("doc_id"))
      .select("source", "sid").as[(String, Long)].collect()
      .groupBy(_._1).map { case (s, v) => s -> v.map(_._2).distinct.sorted }
    val (sBig, sSmall) = (sids("srcbig"), sids("srcsmall"))
    assert(sBig.length > 256 && sSmall.length < 256, "test premise: one saturated, one small")
    assert(got("srcsmall")._2 == sSmall.length
      && got("srcsmall")._3 == sSmall.length.toDouble
      && got("srcsmall")._4 == 0.0, "small source must be exact")
    val hK = sBig(255) // kth smallest, k = 256
    val expected = (255L << 48).toDouble / hK.toDouble
    assert(got("srcbig")._3 == expected, "estimate must equal the bottom-k formula")
    assert(got("srcbig")._4 < 0.2,
      s"KMV error out of bounds: ${got("srcbig")._4} (k=256, rsd ~6.3%, 3 sigma ~19%)")
  }

  test("LSH banding recall against the exact prefix-join ground truth") {
    val d = graft.sources.TestData.documents(spark, sf)
    val exact = Dedup.prefixJaccardJoin(d).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    val cand = Dedup.lshCandidates(d).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    // the banding parameters (16 hashes, 4 rows/band) put the S-curve
    // knee well below J=0.6, so genuine near-dups should essentially all
    // surface as candidates; measured 28/28 on this corpus
    val hit = exact.intersect(cand).size
    info(s"recall ${hit}/${exact.size}")
    assert(exact.nonEmpty)
    assert(hit.toDouble / exact.size >= 0.9,
      s"LSH recall degraded: $hit/${exact.size}")
  }

  test("dedupSavings agrees with the q40/q59 survivor rules it reports on") {
    val d = graft.sources.TestData.documents(spark, sf)
    val r = Dedup.dedupSavings(d)
      .select("n_docs", "total_tokens", "exact_kept_docs", "exact_kept_tokens",
        "neardup_kept_docs", "neardup_kept_tokens")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(r.nonEmpty)
    r.foreach { case (n, tot, ekd, ekt, nkd, nkt) =>
      assert(ekd <= n && nkd <= n)
      assert(ekt <= tot && nkt <= tot)
    }
    // summed over sources, exact survivors are exactly q40's groups
    assert(r.map(_._3).sum == Dedup.exact(d).count())
    // ... and near-dup survivors are q59's survivors plus the singletons
    // that never entered the candidate graph (their own clusters)
    val clusters = Dedup.dedupClusters(d).select("doc_id", "is_survivor").cache()
    val survivors = clusters.filter("is_survivor = 1").count()
    val singletons = d.count() - clusters.count()
    assert(r.map(_._5).sum == survivors + singletons)
  }

  test("dedupSavings: exact duplicates keep one copy's tokens, per the min-id rule") {
    val texts = Seq(
      (10L, "alpha beta gamma delta", "s1"),
      (11L, "alpha beta gamma delta", "s2"), // exact dup, loses to 10
      (12L, "wholly distinct content here", "s2"))
    val corpus = texts.toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
    val r = Dedup.dedupSavings(corpus)
      .select("source", "n_docs", "total_tokens", "exact_kept_docs", "exact_kept_tokens")
      .as[(String, Long, Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r("s1") == (("s1", 1L, 4L, 1L, 4L)))        // the survivor copy
    assert(r("s2") == (("s2", 2L, 8L, 1L, 4L)))        // dup dropped, distinct kept
  }

  test("incrementalNearDup: exact twin, banded near-dup, and unique classify correctly") {
    // mod=7: doc_ids 0,7,14 are the delta; 1..6 etc. the corpus.
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val d = docs(
      0L -> base,                        // delta: exact twin of corpus doc 1
      7L -> (base + " extra"),           // delta: near-dup of corpus doc 1
      14L -> "x1 x2 x3 x4 x5 x6 x7 x8",  // delta: nothing like it
      1L -> base,
      2L -> "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10")
    val r = Dedup.incrementalNearDup(d, mod = 7)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r(0L)._1 == 1L && r(0L)._3 == "exact_dup")
    assert(r(7L)._1 == 0L && r(7L)._2 >= 1L && r(7L)._3 == "near_dup",
      s"doc 7 must band-collide with its 12/13-shingle superset: ${r(7L)}")
    assert(r(14L) == ((0L, 0L, "new")))
  }

  test("sCurveAudit: identical pairs detected by every config; rates nest across r") {
    // three identical docs (J = 1, three pairs in decile 9) plus a
    // half-overlapping pair (w11..w30 vs w1..w20 -> J = 8/28 ~ 0.29,
    // decile 2) and two unrelated docs sharing nothing
    val w = (1 to 30).map(i => s"w$i")
    val d = docs(
      0L -> w.take(20).mkString(" "),
      1L -> w.take(20).mkString(" "),
      2L -> w.take(20).mkString(" "),
      3L -> w.slice(10, 30).mkString(" "),
      4L -> (1 to 12).map(i => s"z$i").mkString(" "),
      5L -> (1 to 12).map(i => s"y$i").mkString(" "))
    val rows = Dedup.sCurveAudit(d, threshold = 0.02)
      .collect()
      .map(r => (r.getInt(0), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4), r.getDouble(6)))).toMap
    for (r <- Seq(2, 4, 8)) {
      val (n9, det9, th9) = rows((r, 9L))
      assert(n9 == 3L && det9 == 3L,
        s"identical signatures collide in every band at r=$r")
      assert(th9 > 0.88 && th9 <= 1.0)
    }
    // detection NESTS: a full r=8 band match contains two aligned r=4
    // matches, which contain aligned r=2 matches — so the measured rate
    // is monotone non-increasing in r for every populated decile
    for (jb <- rows.keys.map(_._2).toSeq.distinct) {
      def rate(r: Int) = {
        val (n, det, _) = rows((r, jb))
        det.toDouble / n
      }
      assert(rate(2) >= rate(4) && rate(4) >= rate(8),
        s"decile $jb rates must nest: ${rate(2)} >= ${rate(4)} >= ${rate(8)}")
    }
    // the half-overlap pair populates a mid decile (J ~ 0.29)
    assert(rows.keys.exists { case (_, jb) => jb >= 1L && jb <= 4L },
      s"mid-J truth pair must surface: ${rows.keys}")
  }

  test("q276: LOO ablation equals the brute-force per-source recompute") {
    import spark.implicits._
    // cross-source dup structure: "x" spans A/B, "y" is A's own dup
    // family, "z" spans B/C, "w" is unique to C
    val corpus = Seq(
      (1L, "x", "A"), (2L, "x", "A"), (3L, "x", "B"),
      (4L, "y", "A"), (5L, "y", "A"),
      (6L, "z", "B"), (7L, "z", "C"), (8L, "w", "C"))
    val df = corpus.toDF("doc_id", "text", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")).cast("long") * 10)
    val got = Dedup.looSourceAblation(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(6)))).toMap
    // brute force: recompute the corpus stats without each source
    for (s <- Seq("A", "B", "C")) {
      val rest = corpus.filterNot(_._3 == s)
      val n = rest.size.toLong
      val dups = n - rest.map(_._2).distinct.size.toLong
      val avg = rest.map(_._2.length * 10L).sum.toDouble / n
      val (nd, _, looN, looD, looAvg) = got(s)
      assert(nd == corpus.count(_._3 == s).toLong)
      assert(looN == n && looD == dups && looAvg == avg,
        s"source $s: got ${got(s)}, want ($n, $dups, $avg)")
    }
    // the __all__ row carries the full-corpus numbers
    assert(got("__all__") == ((8L, 4L, 8L, 4L, 10.0)), got("__all__"))
  }
}
