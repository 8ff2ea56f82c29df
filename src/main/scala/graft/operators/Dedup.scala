package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, from exact to
  * approximate, each designed for the 100 TB path:
  *
  *  - exact: group by content hash, not raw text — the shuffle moves 16-byte
  *    keys instead of documents.
  *  - MinHash + LSH banding: signature rows are (doc, hash_id, min) — fully
  *    partial-aggregatable; candidate generation joins band buckets, never
  *    all-pairs.
  *  - SimHash: 32-bit signature via exact integer arithmetic.
  *  - n-gram Jaccard: shingle inverted-index self-join — cost is
  *    sum-over-shingles(freq²), not n² over documents.
  *
  * All hashing is deterministic modular arithmetic over a dense token
  * dictionary (built with [[SurrogateKeys.dense]]) so results are
  * reproducible across engines and cluster runs.
  */
object Dedup {

  val MinhashPrime = 2147483647L // 2^31 - 1

  /** Exact dedup: one survivor (min doc id) per distinct content hash. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  val exactSql: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id,
      |       count(*) AS n_copies
      |FROM documents GROUP BY md5(text)""".stripMargin

  /** (doc_id, tid) distinct token-membership pairs; ids are md5-derived
    * (see [[docShingles]]) reduced mod 100003 so downstream multiplies
    * stay in BIGINT range on both engines.
    */
  def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
      .select(col("doc_id"), (elemId(col("tok")) % 100003L).as("tid"))

  val docTokensSql: String =
    s"""doc_tokens AS (
       |  SELECT doc_id, ${"('0x' || substring(md5(tok), 1, 12))::BIGINT"} % 100003 AS tid
       |  FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents) dt)""".stripMargin

  /** Deterministic 48-bit element id from the md5 prefix — no dictionary
    * build, no join, no global sort; ids are stable across engines
    * (Spark `conv(hex,16,10)` ≡ DuckDB `('0x'||hex)::BIGINT`) and across
    * cluster runs. Collision odds at 2⁴⁸ are negligible for any realistic
    * shingle vocabulary, and a collision only perturbs one minhash slot.
    */
  private def elemId(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 12), 16, 10).cast("long")
  private def elemIdSql(expr: String): String =
    s"('0x' || substring(md5($expr), 1, 12))::BIGINT"

  /** (doc_id, sid) distinct shingle-membership pairs. MinHash runs over
    * SHINGLE sets, not unigram tokens: with a small token vocabulary every
    * document contains nearly every token, so unigram signatures collide en
    * masse and LSH candidate generation degenerates to all-pairs (measured:
    * 12.8 s / millions of pairs at sf0.1). 3-gram shingles keep the element
    * space large, so only genuinely similar documents share bands.
    */
  def docShingles(docs: DataFrame, n: Int): DataFrame =
    shingles(docs, n).select(col("doc_id"), elemId(col("sh")).as("sid"))

  def docShinglesSql(n: Int): String =
    s"""${shinglesSql(n)},
       |doc_shingles AS (
       |  SELECT doc_id, ${elemIdSql("sh")} AS sid FROM shingles)""".stripMargin

  /** MinHash signatures: for hash function j, min over the doc's shingles
    * of (aⱼ·sid + bⱼ) mod P. Emitted in exploded row form (doc_id, h, mh).
    * The `numHashes` mins are computed as columns of ONE aggregate over
    * the postings (partial-aggregatable, map-side combined) and the row
    * form is restored by a posexplode AFTER aggregation — |docs|×16 rows
    * there, instead of shuffling |postings|×16 exploded rows (see
    * [[simhashAgg]] for the same argument on the vote side).
    */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 16, shingleN: Int = 3): DataFrame =
    minhashSignaturesFromPosts(docShingles(docs, shingleN), numHashes)

  /** [[minhashSignatures]] over an already-computed (doc_id, sid) posting
    * frame — the Scala twin of [[minhashSqlFromShingles]], so callers that
    * need BOTH the postings and the signatures (the S-curve audit) can
    * share one shingle pass instead of re-shingling the corpus.
    */
  private[graft] def minhashSignaturesFromPosts(posts: DataFrame,
      numHashes: Int = 16): DataFrame = {
    val mins = (0 until numHashes).map { h =>
      min((lit(2L * h + 1) * col("sid") + lit(h.toLong * h + 7)) % MinhashPrime).as(s"m$h")
    }
    posts
      .groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until numHashes).map(h => col(s"m$h")): _*)))
      .toDF("doc_id", "h", "mh")
  }

  def minhashSignaturesSql(numHashes: Int = 16, shingleN: Int = 3): String =
    s"""${docShinglesSql(shingleN)},
       |${minhashSqlFromShingles(numHashes)}""".stripMargin

  /** The `minhash` CTE alone (expects `doc_shingles` already defined) —
    * for twins composing minhash with other shingle consumers.
    */
  private[graft] def minhashSqlFromShingles(numHashes: Int = 16): String =
    s"""minhash AS (
       |  SELECT doc_id, h, min(((2*h + 1) * sid + (h*h + 7)) % $MinhashPrime) AS mh
       |  FROM doc_shingles, (SELECT unnest(generate_series(0, ${numHashes - 1})) AS h) hs
       |  GROUP BY doc_id, h)""".stripMargin

  /** LSH banding over minhash signatures: band hash = md5 of the band's
    * minhash values in h order; candidate pairs share ≥1 band bucket.
    */
  def lshCandidates(docs: DataFrame, numHashes: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val bands = minhashSignatures(docs, numHashes)
      .withColumn("band", (col("h") / lit(rowsPerBand)).cast("int"))
      .groupBy("doc_id", "band")
      .agg(collect_list(struct(col("h"), col("mh"))).as("hs"))
      .select(col("doc_id"), col("band"),
        md5(array_join(transform(array_sort(col("hs")), s => s.getField("mh").cast("string")), ","))
          .as("bh"))
      .localCheckpoint() // both sides of the self-join read this — compute signatures once
    val a = bands.as("a")
    val b = bands.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
        && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  def lshCandidatesSql(numHashes: Int = 16, rowsPerBand: Int = 4): String =
    s"""${minhashSignaturesSql(numHashes)},
       |bands AS (
       |  SELECT doc_id, h // $rowsPerBand AS band,
       |         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY h)) AS bh
       |  FROM minhash GROUP BY doc_id, h // $rowsPerBand),
       |lsh_pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  /** Per-bit ±1 vote sums folded into a signature, in ONE aggregate over
    * the postings: `bits` sum columns per doc_id instead of exploding
    * every posting into `bits` rows (a `crossJoin(range(bits))` before
    * the shuffle multiplies shuffled row COUNT by `bits` — at 100 TB
    * that's the difference between aggregating |postings| rows and
    * 48×|postings| rows; the bytes are similar, the per-row hash-agg
    * work is not). The vote expressions stay inside whole-stage codegen.
    */
  private def simhashAgg(postings: DataFrame, bits: Int, out: String)(
      vote: Int => Column): DataFrame = {
    val votes = (0 until bits).map(b => sum(vote(b)).as(s"v$b"))
    val sig = (0 until bits).map[Column](b =>
      when(col(s"v$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    postings.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as(out))
  }

  /** 32-bit SimHash from the token membership set: per bit, sum ±1 votes
    * from each token's deterministic bit hash; signature bit = vote ≥ 0.
    */
  def simhash(docs: DataFrame): DataFrame =
    simhashAgg(docTokens(docs), 32, "simhash") { b =>
      (((col("tid") * 2654435761L + lit(b * 40507L)) % 97 % 2) * 2 - 1)
    }

  val simhashSql: String =
    s"""$docTokensSql,
       |votes AS (
       |  SELECT doc_id, b, sum(((tid * 2654435761 + b * 40507) % 97 % 2) * 2 - 1) AS votes
       |  FROM doc_tokens, (SELECT unnest(generate_series(0, 31)) AS b)
       |  GROUP BY doc_id, b),
       |simhash AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN votes >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
       |           AS BIGINT) AS simhash
       |  FROM votes GROUP BY doc_id)""".stripMargin

  private val SimhashPairBits = 48 // 4 bands × 12 bits; stays clear of the sign bit

  /** A WIDER signature than q44's 32-bit one, over 3-gram shingles instead
    * of unigram tokens: on a low-entropy corpus (this testdata has a
    * ~30-word vocabulary) unigram token SETS are near-identical across
    * documents, so 32-bit unigram signatures collide en masse (measured:
    * 17 415 signature-equal pairs among 500 docs) — the same degeneracy
    * that makes unigram MinHash useless here. Shingles restore per-document
    * entropy; [[SimhashPairBits]] = 48 bits keep the collision rate down.
    */
  private def shingleSimhash(docs: DataFrame, shingleN: Int = 3): DataFrame = {
    val postings = cappedShingles(docs, shingleN) // boilerplate shingles correlate signatures
      .select(col("doc_id"),
        // mod 100003 keeps the vote multiply in BIGINT range (see docTokens)
        (conv(substring(md5(col("sh")), 1, 12), 16, 10).cast("long") % 100003L).as("sid"))
    // vote hash design matters: an ADDITIVE b term (sid*K + b*M) makes
    // the parity alternate in b with a document-independent stride, so
    // every signature collapses toward one of two complementary
    // 0101… patterns (measured: fat pair-count tails at Hamming 0 AND
    // 48, 2 069 spurious pairs). MULTIPLICATIVE mixing sid*(b+7)*K
    // gives each shingle its own stride through the modulus — bits
    // decorrelate and only true near-dups land within the threshold
    // (measured: 18 pairs, binomial-centered histogram).
    simhashAgg(postings, SimhashPairBits, "sig") { b =>
      (((col("sid") * lit((b + 7) * 2654435761L)) % 2000003L % 2) * 2 - 1)
    }
  }

  /** SimHash signatures → candidate pairs (Manku-style): band the 48-bit
    * shingle signature into 4 × 12 bits; any pair agreeing on at least one
    * band at the same position is a candidate (a pair within Hamming
    * distance 3 must agree on ≥ 1 of 4 bands by pigeonhole — the banding
    * is RECALL-COMPLETE for the threshold, not heuristic); verify with an
    * exact popcount of the XOR. Same band-bucket equi-join shape as
    * MinHash LSH — never all-pairs; 4 096 buckets per band bound
    * occupancy.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sigs = shingleSimhash(docs)
    val banded = sigs.select(col("doc_id"), col("sig"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          (shiftrightunsigned(col("sig"), b * 12) % 4096).as("bandval"))): _*))
          .as("bb"))
      .select(col("doc_id"), col("sig"),
        col("bb.band").as("band"), col("bb.bandval").as("bandval"))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bandval") === col("b.bandval")
        && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // a close pair shares several bands; min() collapses to one row and
      // every row of the group carries the same XOR popcount
      .agg(min(bit_count(col("a.sig").bitwiseXOR(col("b.sig"))))
        .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  def simhashPairsSql(maxHamming: Int = 3, shingleN: Int = 3): String =
    s"""${shinglesSql(shingleN)},
       |$cappedShinglesSql,
       |sp_sigs AS (
       |  SELECT doc_id,
       |         CAST(SUM(CASE WHEN votes >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
       |           AS BIGINT) AS sig
       |  FROM (
       |    SELECT doc_id, b,
       |           SUM(((sid * (b + 7) * 2654435761) % 2000003 % 2) * 2 - 1) AS votes
       |    FROM (SELECT doc_id,
       |                 ('0x' || substring(md5(sh), 1, 12))::BIGINT % 100003 AS sid
       |          FROM kept) s,
       |         (SELECT unnest(generate_series(0, ${SimhashPairBits - 1})) AS b)
       |    GROUP BY doc_id, b) v
       |  GROUP BY doc_id),
       |sp_bands AS (
       |  SELECT doc_id, sig, band, (sig >> (band * 12)) % 4096 AS bandval
       |  FROM sp_sigs, (SELECT unnest(generate_series(0, 3)) AS band)),
       |sh_pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(MIN(bit_count(xor(a.sig, b.sig))) AS INT) AS hamming
       |  FROM sp_bands a JOIN sp_bands b
       |    ON a.band = b.band AND a.bandval = b.bandval AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |  HAVING CAST(MIN(bit_count(xor(a.sig, b.sig))) AS INT) <= $maxHamming)""".stripMargin

  /** Incremental ingestion dedup: a NEW batch of documents arrives and
    * must be deduplicated (a) against the already-ingested corpus and
    * (b) within itself — without ever re-reading ingested *content*. Both
    * steps work on 16-byte content fingerprints (order-insensitive token
    * md5, [[TextAnalysis.fingerprints]]): the ingested side collapses to a
    * distinct fingerprint set (at 100 TB this is the small, cachable side
    * — fingerprints, not documents), the batch anti-joins it, and the
    * in-batch dedup is a min-survivor group-by. Here `ingestedSource`
    * plays the already-ingested corpus; everything else is the new batch.
    */
  def incrementalDedup(docs: DataFrame, ingestedSource: String = "src0"): DataFrame = {
    val fps = TextAnalysis.fingerprints(docs)
    val ingested = fps
      .join(docs.filter(col("source") === ingestedSource).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .select("fingerprint").distinct()
    val batch = fps
      .join(docs.filter(col("source") =!= ingestedSource).select("doc_id"),
        Seq("doc_id"), "left_semi")
    batch.join(ingested, Seq("fingerprint"), "left_anti")
      .groupBy("fingerprint")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select("keep_doc_id", "fingerprint", "n_copies")
  }

  def incrementalDedupSql(ingestedSource: String = "src0"): String =
    s"""fps AS (
       |  SELECT doc_id, source,
       |         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
       |           AS fingerprint
       |  FROM documents),
       |ingested AS (
       |  SELECT DISTINCT fingerprint FROM fps WHERE source = '$ingestedSource'),
       |incremental AS (
       |  SELECT MIN(doc_id) AS keep_doc_id, fingerprint, COUNT(*) AS n_copies
       |  FROM fps
       |  WHERE source <> '$ingestedSource'
       |    AND fingerprint NOT IN (SELECT fingerprint FROM ingested)
       |  GROUP BY fingerprint)""".stripMargin

  /** Candidate pairs → dedup CLUSTERS: the resolution step every near-dup
    * pipeline needs after LSH banding (pairs alone over-delete — A~B and
    * B~C must keep exactly one of {A,B,C}, which requires the connected
    * component, not the pair list). Components via iterative min-label
    * propagation with pointer jumping: every round each vertex takes the
    * minimum label among itself and its neighbours, then shortcuts to its
    * label's label — two shuffle joins + one aggregate per round,
    * converging in O(log diameter) rounds (near-dup clusters are shallow
    * anyway; `maxIters` is a safety bound that FAILS the job if hit
    * before convergence, and convergence is an exact changed-row count,
    * so the loop is deterministic). The driver
    * carries only that scalar per round — labels never leave the cluster —
    * and each round's result is localCheckpoint'ed so lineage stays O(1)
    * instead of growing with the iteration count.
    *
    * Output: one row per vertex of the candidate graph —
    * (doc_id, cluster_id = min doc_id of its component,
    *  is_survivor = 1 for the cluster minimum).
    */
  def dedupClusters(docs: DataFrame, numHashes: Int = 16, rowsPerBand: Int = 4,
      maxIters: Int = 20): DataFrame =
    dedupClustersWithRounds(docs, numHashes, rowsPerBand, maxIters)._1

  /** [[dedupClusters]] plus the number of propagation rounds it actually
    * ran — the scale evidence the design claim rests on: rounds track
    * component DIAMETER, not corpus size, so a 30× corpus with the same
    * near-dup structure must converge in the same handful of rounds
    * ([[graft.ScaleBench]] records both).
    */
  def dedupClustersWithRounds(docs: DataFrame, numHashes: Int = 16,
      rowsPerBand: Int = 4, maxIters: Int = 20): (DataFrame, Int) = {
    val pairs = lshCandidates(docs, numHashes, rowsPerBand).select("doc_a", "doc_b")
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint() // re-read every round
    val (labels, rounds) = propagateLabelsWithRounds(edges, maxIters)
    (labels.select(col("v").as("doc_id"), col("label").as("cluster_id"),
      (col("v") === col("label")).cast("int").as("is_survivor")), rounds)
  }

  /** Min-label propagation to convergence over a symmetric edge list
    * (`src`,`dst`; both directions present). Returns (`v`, `label`) with
    * `label` = min vertex of v's connected component.
    *
    * FAILS LOUDLY if the bound is hit before convergence: a component
    * whose diameter exceeds `maxIters` (plausible in a 100 TB near-dup
    * family chain) would otherwise return labels that silently disagree
    * with the transitive-closure oracle — a wrong answer at scale is worse
    * than a retry with a bigger bound.
    */
  private[graft] def propagateLabels(edges: DataFrame, maxIters: Int): DataFrame =
    propagateLabelsWithRounds(edges, maxIters)._1

  private[graft] def propagateLabelsWithRounds(
      edges: DataFrame, maxIters: Int): (DataFrame, Int) = {
    var labels = edges.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("label"))
      .localCheckpoint()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val prop = edges.join(labels.withColumnRenamed("v", "src"), Seq("src"))
        .groupBy(col("dst").as("v")).agg(min("label").as("nbr"))
      // the pre-round label rides along as `prev`, so the convergence
      // count below is a filter over the checkpointed result instead of
      // one more shuffle join per round
      val stepped = labels.join(prop, Seq("v"), "left")
        .select(col("v"), col("label").as("prev"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
        // materialized before the self-join: it feeds both sides under
        // DIFFERENT partitionings (v and label), and exchange reuse can't
        // dedupe the join compute itself — without this the edges⋈labels
        // join would execute twice per round
        .localCheckpoint()
      // Pointer jumping: label(v) ← label(label(v)). Every label value is
      // itself a vertex (labels start as own ids and only existing ids
      // propagate), so the self-join always resolves; labels only
      // decrease (label(u) ≤ u). The hop distance to the component
      // minimum HALVES each round on top of the one-step neighbor move,
      // so convergence is O(log diameter) rounds instead of O(diameter) —
      // at 100 TB a pathological chain-shaped near-dup family costs ~40
      // shuffle rounds at most, not tens of thousands.
      val next = stepped.join(
          stepped.select(col("v").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("v"), col("prev"),
          coalesce(col("ll"), col("label")).as("label"))
        .localCheckpoint()
      changed = next.filter(col("label") =!= col("prev")).count()
      labels = next.select("v", "label")
      it += 1
    }
    require(changed == 0,
      s"label propagation did not converge after $maxIters rounds " +
        s"($changed labels still moving — component diameter exceeds the " +
        "bound); raise maxIters")
    (labels, it)
  }

  /** DuckDB twin of [[dedupClusters]]: transitive closure as a recursive
    * CTE (set-semantics UNION terminates it), then min per vertex. Must be
    * opened with `WITH RECURSIVE`.
    */
  def dedupClustersSql(numHashes: Int = 16, rowsPerBand: Int = 4): String =
    s"""${lshCandidatesSql(numHashes, rowsPerBand)},
       |cc_edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM lsh_pairs),
       |reach(v, u) AS (
       |  SELECT src, src FROM cc_edges
       |  UNION
       |  SELECT r.v, e.dst FROM reach r JOIN cc_edges e ON r.u = e.src),
       |dedup_clusters AS (
       |  SELECT v AS doc_id, MIN(u) AS cluster_id,
       |         CAST(v = MIN(u) AS INT) AS is_survivor
       |  FROM reach GROUP BY v)""".stripMargin

  /** q257 — incremental maintenance of the near-dup component labels,
    * closing the IVM family on its hardest member (a GRAPH aggregate —
    * new edges can merge arbitrarily many existing components, something
    * no per-key delta fold expresses). The candidate pairs split into a
    * BASE batch (neither endpoint in the delta cohort, `doc_id %
    * deltaMod == 0`) and a DELTA batch; base labels are propagated once
    * and PERSISTED. The delta then costs O(|delta edges| + touched
    * components), never a base re-propagation:
    *
    *  1. each delta edge's endpoints map through the persisted labels
    *     (one delta-sized join; unseen endpoints label themselves) —
    *     giving SUPER-EDGES between component representatives;
    *  2. label propagation runs on the super-graph alone, whose size is
    *     bounded by the delta edge count, yielding old-label → new-label;
    *  3. one broadcast remap join rewrites the touched persisted labels
    *     (the remap frame is bounded by delta-touched components);
    *     vertices the base never saw take their labels straight from the
    *     super-graph.
    *
    * Min-label composition is exact: a base label IS its component's
    * minimum vertex, so the super-graph minimum over merged
    * representatives is the merged component's global minimum. The
    * oracle recomputes components from scratch over ALL pairs
    * ([[dedupClustersSql]] verbatim) — updated == rebuilt is the
    * maintenance proof, carried by the hash compare itself.
    */
  def incrementalComponents(docs: DataFrame, outDir: String,
      numHashes: Int = 16, rowsPerBand: Int = 4, deltaMod: Int = 10,
      maxIters: Int = 20): DataFrame = {
    val pairs = lshCandidates(docs, numHashes, rowsPerBand)
      .select("doc_a", "doc_b")
    val inDelta = (c: Column) => c % lit(deltaMod.toLong) === 0
    val base = pairs.filter(!inDelta(col("doc_a")) && !inDelta(col("doc_b")))
    val delta = pairs.filter(inDelta(col("doc_a")) || inDelta(col("doc_b")))
    incrementalComponentsFromPairs(base, delta, outDir, maxIters)
  }

  /** Core of [[incrementalComponents]] over explicit (doc_a, doc_b) pair
    * frames — split out so specs can pin the merge arithmetic on a
    * hand-built graph.
    */
  private[graft] def incrementalComponentsFromPairs(basePairs: DataFrame,
      deltaPairs: DataFrame, outDir: String, maxIters: Int = 20): DataFrame = {
    val spark = basePairs.sparkSession
    def sym(p: DataFrame): DataFrame =
      p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // the persisted artifact: base labels, built once from base edges
    propagateLabels(sym(basePairs).localCheckpoint(), maxIters)
      .write.mode("overwrite").parquet(s"$outDir/labels")
    val baseLabels = spark.read.parquet(s"$outDir/labels")
    // delta edges → super-edges between component representatives;
    // endpoints the base never labeled represent themselves
    val mapped = deltaPairs
      .join(baseLabels.select(col("v").as("doc_a"), col("label").as("la")),
        Seq("doc_a"), "left")
      .join(baseLabels.select(col("v").as("doc_b"), col("label").as("lb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("la"), col("doc_a")).as("doc_a"),
        coalesce(col("lb"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b")) // intra-component delta edges are no-ops
      .localCheckpoint() // delta-sized; feeds propagation rounds
    // super-graph propagation: bounded by the delta edge count
    val remap = propagateLabels(sym(mapped), maxIters)
    // apply: touched labels rewritten via a broadcast remap; the
    // super-graph's own vertices that the base never saw enter directly
    val updated = baseLabels
      .join(broadcast(remap.select(col("v").as("label"), col("label").as("nl"))),
        Seq("label"), "left")
      .select(col("v"), coalesce(col("nl"), col("label")).as("label"))
    val newVerts = remap.join(baseLabels.select("v"), Seq("v"), "left_anti")
    updated.unionByName(newVerts.select("v", "label"))
      .select(col("v").as("doc_id"), col("label").as("cluster_id"),
        (col("v") === col("label")).cast("int").as("is_survivor"))
      .orderBy("doc_id")
  }

  /** Content novelty by ingestion order: the fraction of a document's
    * n-gram shingles that NO earlier document (smaller doc_id, standing in
    * for crawl order) already contributed. The novelty curve is how a
    * crawl pipeline decides when a source is mined out — new pages stop
    * adding new n-grams long before they stop adding bytes. One aggregate
    * over the shared shingle frame (min doc per shingle ≡ "first seen"),
    * joined back shingle-wise: O(postings), no doc×doc comparison.
    */
  def ngramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    val sh = shingles(docs, n)
    val firstSeen = sh.groupBy("sh").agg(min("doc_id").as("first_doc"))
    sh.join(firstSeen, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("novel"))
      .withColumn("novelty",
        col("novel").cast("double") / col("n_shingles").cast("double"))
  }

  /** DuckDB twin of [[ngramNovelty]]. */
  def ngramNoveltySql(n: Int = 3): String =
    s"""${shinglesSql(n)},
       |first_seen AS (SELECT sh, MIN(doc_id) AS first_doc FROM shingles GROUP BY sh),
       |novelty AS (
       |  SELECT doc_id, COUNT(*) AS n_shingles,
       |         CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel,
       |         CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
       |           / CAST(COUNT(*) AS DOUBLE) AS novelty
       |  FROM shingles JOIN first_seen USING (sh)
       |  GROUP BY doc_id)""".stripMargin

  /** Quality-aware canonical selection: one representative per near-dup
    * cluster, chosen by QUALITY (longest text here, standing in for a
    * learned scorer) instead of the arbitrary min-id — keeping the best
    * copy of a duplicated page, not a random one, is what a curation
    * pipeline actually wants. Singleton documents are their own cluster.
    * The argmax is a `min_by` on a total-order struct (quality desc, id
    * asc) — partial-aggregatable, no per-cluster sort, no window.
    */
  def canonicalByQuality(docs: DataFrame): DataFrame = {
    val clusters = dedupClusters(docs).select("doc_id", "cluster_id")
    docs.select("doc_id", "n_chars")
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"), col("n_chars"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        min_by(col("doc_id"), struct(negate(col("n_chars")), col("doc_id")))
          .as("canonical_id"),
        max(col("n_chars")).as("best_n_chars"))
  }

  /** DuckDB twin of [[canonicalByQuality]] — arg-min via ROW_NUMBER over
    * the same total order. Must be opened with `WITH RECURSIVE` (the
    * cluster CTE chain is recursive).
    */
  def canonicalByQualitySql(): String =
    s"""${dedupClustersSql()},
       |canon_in AS (
       |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
       |  FROM documents d LEFT JOIN dedup_clusters c ON d.doc_id = c.doc_id),
       |canonical AS (
       |  SELECT cluster_id, COUNT(*) AS n_members,
       |         FIRST(doc_id ORDER BY n_chars DESC, doc_id) AS canonical_id,
       |         MAX(n_chars) AS best_n_chars
       |  FROM canon_in GROUP BY cluster_id)""".stripMargin

  /** Word n-gram shingles, distinct per document. A plain frame: a
    * caller that reads it more than once materializes its own derived
    * frame (see [[cappedShingles]]), so nothing outlives the query.
    */
  def shingles(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(0), size(col("toks")) - n),
          i => array_join(slice(col("toks"), i + 1, lit(n)), " ")))).as("sh"))

  def shinglesSql(n: Int): String =
    s"""shingles AS (
       |  SELECT DISTINCT doc_id,
       |         array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + ${n - 1}], ' ') AS sh
       |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - ${n - 1})) AS i
       |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t) idx)""".stripMargin

  /** Pairwise n-gram Jaccard via inverted-index self-join on shingles,
    * with a corpus-derived '''hot-shingle document-frequency cap''':
    * shingles appearing in more than `df_cap(n_docs) = max(64, n_docs/20)`
    * documents are dropped from the shingle SETS — consistently from both
    * the per-document counts and the intersections, so the score stays a
    * true Jaccard over the capped shingle space.
    *
    * 100 TB sizing rule: the self-join emits Σ_sh df(sh)² candidate rows.
    * Uncapped, one boilerplate shingle shared by 1M documents alone yields
    * 10¹² pairs; with the cap the blowup is bounded by
    * Σ df² ≤ (Σ df) · df_cap = |postings| · df_cap — linear in corpus size
    * for a fixed cap fraction. A shingle in >5% of all documents carries no
    * dedup signal (it IS the boilerplate near-dup detection should ignore),
    * which is why capping it is semantically safe, not just fast. The cap
    * is derived in-plan from a 1-row count, identically in the oracle SQL.
    */
  /** Shingle sets with the hot-shingle df cap applied — shared by the
    * Jaccard and SimHash paths (both need boilerplate shingles gone: for
    * Jaccard they blow up the inverted-index join, for SimHash they
    * correlate unrelated documents' signatures). Materialized with
    * `localCheckpoint`: probe, build and counts sides all read one copy,
    * released with the result.
    */
  def cappedShingles(docs: DataFrame, n: Int): DataFrame = {
    val cap = docs.agg(count(lit(1)).as("n_docs"))
      .select(greatest(lit(64L), floor(col("n_docs").cast("double") / 20).cast("long"))
        .as("df_cap"))
    val sh = shingles(docs, n)
    sh.join(sh.groupBy("sh").agg(count(lit(1)).as("df")), Seq("sh"))
      .crossJoin(broadcast(cap))
      .filter(col("df") <= col("df_cap"))
      .select("doc_id", "sh")
      .localCheckpoint()
  }

  /** The df_cap/sh_freq/kept CTE chain given `shingles` is in scope. */
  def cappedShinglesSql: String =
    """df_cap AS (
      |  SELECT GREATEST(64, CAST(floor(CAST(COUNT(*) AS DOUBLE) / 20) AS BIGINT)) AS df_cap
      |  FROM documents),
      |sh_freq AS (SELECT sh, count(*) AS df FROM shingles GROUP BY sh),
      |kept AS (
      |  SELECT s.doc_id, s.sh
      |  FROM shingles s JOIN sh_freq f ON s.sh = f.sh, df_cap
      |  WHERE f.df <= df_cap.df_cap)""".stripMargin

  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.1): DataFrame = {
    val kept = cappedShingles(docs, n)
    val counts = kept.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = kept.as("a")
      .join(kept.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
      .withColumn("jaccard",
        col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "inter", "jaccard")
  }

  def ngramJaccardPairsSql(n: Int = 3, threshold: Double = 0.1): String =
    s"""${shinglesSql(n)},
       |$cappedShinglesSql,
       |sh_counts AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jaccard_pairs AS (
       |  SELECT doc_a, doc_b, inter,
       |         inter * 1.0 / (ca.n_sh + cb.n_sh - inter) AS jaccard
       |  FROM inter
       |  JOIN sh_counts ca ON doc_a = ca.doc_id
       |  JOIN sh_counts cb ON doc_b = cb.doc_id
       |  WHERE inter * 1.0 / (ca.n_sh + cb.n_sh - inter) >= $threshold)""".stripMargin

  /** Cross-document duplicated-SPAN coverage — the span-level dedup
    * statistic (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): document-level dedup misses the crawl's
    * dominant failure mode, long boilerplate passages shared by otherwise
    * distinct pages. For each document: how many of its token positions
    * are covered by some `n`-gram that also occurs in ANOTHER document.
    *
    * Shape at scale: positional shingles are |tokens| rows (multiplicity
    * and position PRESERVED, unlike the set-valued [[shingles]]); the
    * duplicated-shingle set is one hash aggregate; the cover step is an
    * equi-join back on the shingle followed by an `n`-fold position
    * explode of the DUPLICATED postings only. Total cost is
    * O(|postings| + n·|dup postings|) — linear, never pairwise: a
    * boilerplate shingle shared by 1M documents contributes 1M cover
    * rows here, vs 10¹² pair rows in a naive pair-join formulation.
    *
    * Output: (doc_id, n_toks, covered_toks) — exact integers, so the
    * engine/oracle comparison is bit-stable; the duplication FRACTION is
    * covered/n_toks downstream where display precision is the caller's
    * problem.
    */
  def dupSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    val pos = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - n),
          i => array_join(slice(col("toks"), i + 1, lit(n)), " "))))
      .toDF("doc_id", "pos", "sh")
    val dup = pos.groupBy("sh")
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2).select("sh")
    val covered = pos.join(dup, Seq("sh"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("p"))
      .groupBy("doc_id").agg(countDistinct(col("p")).as("covered_toks"))
    docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_toks"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("covered_toks"), lit(0L)).as("covered_toks"))
  }

  /** DuckDB twin of [[dupSpans]] — positional list slicing + the same
    * inclusive position explode.
    */
  def dupSpansSql(n: Int = 8): String =
    s"""WITH pos_shingles AS (
       |  SELECT doc_id, i - 1 AS pos,
       |         array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + ${n - 1}], ' ') AS sh
       |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - ${n - 1})) AS i
       |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t) idx),
       |dup AS (
       |  SELECT sh FROM pos_shingles GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
       |covered AS (
       |  SELECT doc_id, COUNT(DISTINCT p) AS covered_toks
       |  FROM (SELECT s.doc_id, unnest(generate_series(s.pos, s.pos + ${n - 1})) AS p
       |        FROM pos_shingles s JOIN dup USING (sh)) c
       |  GROUP BY doc_id)
       |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks,
       |       COALESCE(c.covered_toks, 0) AS covered_toks
       |FROM documents d LEFT JOIN covered c USING (doc_id)""".stripMargin

  /** MinHash ESTIMATE vs exact Jaccard, per LSH candidate pair — the
    * "measure, don't guess" audit for the whole signature tier: the
    * estimator P[minₕ(A)=minₕ(B)] = J(A,B) is only trustworthy if the
    * measured agreement tracks the exact overlap, and at 100 TB the exact
    * side can only ever be afforded on the (banding-bounded) candidate
    * set — which is exactly what this computes. Standard error at
    * `numHashes` = 16 is √(J(1−J)/16) ≤ 0.125, verified loosely in the
    * spec; the DRIVER check needs no tolerance at all because both
    * engines compute both sides exactly (integer agreement counts and
    * integer set sizes — no floating ratio crosses the boundary).
    */
  def minhashEstimatePairs(docs: DataFrame, numHashes: Int = 16,
      rowsPerBand: Int = 4, shingleN: Int = 3): DataFrame = {
    val pairs = lshCandidates(docs, numHashes, rowsPerBand).select("doc_a", "doc_b")
    val sig = minhashSignatures(docs, numHashes, shingleN)
    val agree = pairs
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id") && col("sa.h") === col("sb.h"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(when(col("sa.mh") === col("sb.mh"), 1L).otherwise(0L)).as("n_agree"))
    val sh = docShingles(docs, shingleN)
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = pairs
      .join(sh.as("x"), col("doc_a") === col("x.doc_id"))
      .join(sh.as("y"), col("doc_b") === col("y.doc_id") && col("x.sid") === col("y.sid"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    agree
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_agree"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        (col("na") + col("nb") - coalesce(col("n_inter"), lit(0L))).as("n_union"))
  }

  /** DuckDB twin of [[minhashEstimatePairs]], reusing the signature and
    * banding CTEs. DuckDB's integer SUM returns HUGEINT — cast back to
    * BIGINT so the schema matches Spark's long.
    */
  def minhashEstimatePairsSql(numHashes: Int = 16, rowsPerBand: Int = 4): String =
    s"""${lshCandidatesSql(numHashes, rowsPerBand)},
       |agree AS (
       |  SELECT p.doc_a, p.doc_b,
       |         CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
       |  FROM lsh_pairs p
       |  JOIN minhash a ON a.doc_id = p.doc_a
       |  JOIN minhash b ON b.doc_id = p.doc_b AND b.h = a.h
       |  GROUP BY 1, 2),
       |sh_counts2 AS (SELECT doc_id, COUNT(*) AS n_sh FROM doc_shingles GROUP BY doc_id),
       |inter2 AS (
       |  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
       |  FROM lsh_pairs p
       |  JOIN doc_shingles x ON x.doc_id = p.doc_a
       |  JOIN doc_shingles y ON y.doc_id = p.doc_b AND y.sid = x.sid
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_agree,
       |       COALESCE(i.n_inter, 0) AS n_inter,
       |       ca.n_sh + cb.n_sh - COALESCE(i.n_inter, 0) AS n_union
       |FROM agree g
       |LEFT JOIN inter2 i USING (doc_a, doc_b)
       |JOIN sh_counts2 ca ON ca.doc_id = doc_a
       |JOIN sh_counts2 cb ON cb.doc_id = doc_b""".stripMargin

  /** The LSH S-CURVE, measured — the (b, r) banding tuning knob behind
    * q42/q43/q59: with `b` bands of `r` rows, a pair with Jaccard J is
    * detected with P = 1 − (1 − Jʳ)ᵇ. This audit measures that curve
    * against ground truth: exact pairs from the recall-complete prefix
    * join ([[prefixJaccardJoin]]) at a low `threshold`, bucketed into
    * J-deciles; for every band config (all `rowsPerBandConfigs` share
    * ONE signature pass), whether the pair collides in ≥1 band; per
    * (config, decile) the measured detection rate next to the theory
    * evaluated at the decile midpoint — the evidence for picking r when
    * tuning dedup recall vs candidate cost. Scope is honest: the curve
    * is measured where exact truth is affordable (J ≥ threshold via the
    * prefix join — which at 100 TB is the only place exact truth ever
    * comes from); below it there is no certified truth to audit against.
    *
    * Cross-engine exactness: J-deciles are integer floor(10·inter/union);
    * detection is integer band-agreement counts; rates are one division
    * of agreed integers; the midpoint theory values are computed ONCE in
    * Scala and embedded as 17-significant-digit literals in BOTH plans
    * (never recomputed by either engine — no pow/libm crosses the
    * oracle).
    *
    * Scale shape: the truth side is the q141 prefix-join plan; the
    * signature side is one minhash aggregate; the audit join fans each
    * truth pair out by numHashes × |configs| rows — bounded by the truth
    * pair count, which banding keeps near-linear. Config and theory
    * frames are literal broadcasts.
    */
  def sCurveAudit(docs: DataFrame, numHashes: Int = 16,
      rowsPerBandConfigs: Seq[Int] = Seq(2, 4, 8),
      threshold: Double = 0.02, shingleN: Int = 3): DataFrame = {
    require(rowsPerBandConfigs.nonEmpty &&
      rowsPerBandConfigs.forall(r => r >= 1 && numHashes % r == 0),
      s"each r must divide numHashes=$numHashes: $rowsPerBandConfigs")
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE shingle pass feeds both the truth and the signature side (the
    // SQL twin shares a doc_shingles CTE the same way; without the
    // checkpoint each side re-shingled + re-hashed the corpus).
    val posts = docShingles(docs, shingleN).localCheckpoint()
    // Exact truth DIRECTLY: at the audit's low threshold the prefix-join
    // candidate stage degenerates (prefix length ≈ |doc|, the length
    // filter barely prunes), so its df-ranking windows, collect_set and
    // array_intersect are pure overhead over the same all-intersecting-
    // pairs join. A posting self-join + pair count computes the IDENTICAL
    // pair set for any t > 0: a pair with J ≥ t shares ≥ 1 shingle, so no
    // qualifying pair can be missed, and the integer filter is the same
    // exact comparison the prefix join applies after verification.
    val (tNum, tDen) = prefixThresholdFraction(threshold)
    val counts = posts.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val truth = posts.as("a").join(posts.as("b"),
        col("a.sid") === col("b.sid") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
      // J >= t  <=>  tDen * inter >= tNum * union (exact integers)
      .filter(col("n_inter") * tDen >= col("n_union") * tNum)
      .select(col("doc_a"), col("doc_b"),
        least(graft.functions.OracleSafe.intDiv(col("n_inter") * 10,
          col("n_union")), lit(9L)).as("j_band"))
    val sig = minhashSignaturesFromPosts(posts, numHashes)
    val theory = rowsPerBandConfigs.flatMap { r =>
      val b = numHashes / r
      (0 to 9).map { jb =>
        val mid = jb / 10.0 + 0.05
        (r, b, jb.toLong, 1.0 - math.pow(1.0 - math.pow(mid, r), b))
      }
    }.toDF("r", "b", "j_band", "theory_mid")
    val cfg = rowsPerBandConfigs.toDF("r")
    val detected = truth
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.h") === col("sb.h"))
      .select(col("doc_a"), col("doc_b"), col("j_band"), col("sa.h").as("h"),
        when(col("sa.mh") === col("sb.mh"), 1L).otherwise(0L).as("agree"))
      .crossJoin(broadcast(cfg))
      .groupBy(col("doc_a"), col("doc_b"), col("j_band"), col("r"),
        expr("h DIV r").as("band"))
      .agg(sum("agree").as("n_agree"))
      .groupBy("doc_a", "doc_b", "j_band", "r")
      .agg(max(when(col("n_agree") === col("r").cast("long"), 1L)
        .otherwise(0L)).as("det"))
    detected.groupBy("r", "j_band")
      .agg(count(lit(1)).as("n_pairs"), sum("det").as("n_detected"))
      .join(broadcast(theory), Seq("r", "j_band"))
      .select(col("r"), col("b"), col("j_band"), col("n_pairs"),
        col("n_detected"),
        (col("n_detected").cast("double") / col("n_pairs").cast("double"))
          .as("detect_rate"),
        col("theory_mid"))
  }

  /** DuckDB twin of [[sCurveAudit]]; embed after `WITH ` and select from
    * `s_curve`. Shares one `doc_shingles` CTE between the truth and
    * signature pipelines.
    */
  def sCurveAuditSql(numHashes: Int = 16,
      rowsPerBandConfigs: Seq[Int] = Seq(2, 4, 8),
      threshold: Double = 0.02, shingleN: Int = 3): String = {
    val theoryRows = rowsPerBandConfigs.flatMap { r =>
      val b = numHashes / r
      (0 to 9).map { jb =>
        val mid = jb / 10.0 + 0.05
        val t = 1.0 - math.pow(1.0 - math.pow(mid, r), b)
        // Locale.ROOT: the default-locale f-interpolator would render the
        // double with a decimal comma under e.g. de_DE and break the SQL
        val tLit = String.format(java.util.Locale.ROOT, "%.17e", Double.box(t))
        s"($r, $b, CAST($jb AS BIGINT), $tLit)"
      }
    }.mkString(",\n|             ")
    val jb = graft.functions.OracleSafe.intDivSql("n_inter * 10", "n_union")
    s"""${docShinglesSql(shingleN)},
       |${prefixJaccardJoinSqlFromShingles(threshold)},
       |${minhashSqlFromShingles(numHashes)},
       |sc_theory AS (
       |  SELECT * FROM (VALUES $theoryRows) t(r, b, j_band, theory_mid)),
       |sc_truth AS (
       |  SELECT doc_a, doc_b, LEAST($jb, 9) AS j_band FROM prefix_join),
       |sc_band AS (
       |  SELECT t.doc_a, t.doc_b, t.j_band, g.r, a.h // g.r AS band,
       |         CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_agree
       |  FROM sc_truth t
       |  JOIN minhash a ON a.doc_id = t.doc_a
       |  JOIN minhash b ON b.doc_id = t.doc_b AND b.h = a.h
       |  CROSS JOIN (SELECT unnest([${rowsPerBandConfigs.mkString(", ")}]) AS r) g
       |  GROUP BY t.doc_a, t.doc_b, t.j_band, g.r, a.h // g.r),
       |sc_det AS (
       |  SELECT doc_a, doc_b, j_band, r,
       |         MAX(CASE WHEN n_agree = r THEN 1 ELSE 0 END) AS det
       |  FROM sc_band GROUP BY doc_a, doc_b, j_band, r),
       |s_curve AS (
       |  SELECT d.r, th.b, d.j_band, COUNT(*) AS n_pairs,
       |         CAST(SUM(det) AS BIGINT) AS n_detected,
       |         CAST(SUM(det) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |           AS detect_rate,
       |         th.theory_mid
       |  FROM sc_det d JOIN sc_theory th ON th.r = d.r AND th.j_band = d.j_band
       |  GROUP BY d.r, th.b, d.j_band, th.theory_mid)""".stripMargin
  }

  /** EXACT set-similarity self-join via prefix filtering (the PPJoin
    * family's core trick): find every pair of documents whose shingle-SET
    * Jaccard meets `threshold` — with a provably recall-complete candidate
    * set, unlike the probabilistic LSH path ([[lshCandidates]]).
    *
    * Under any single global element order, two sets with J(A,B) ≥ t must
    * share an element inside both prefixes of length |X| − ceil(t·|X|) + 1
    * (if the prefixes were disjoint, the overlap could not reach the
    * required t/(1+t)·(|A|+|B|)). Elements are 48-bit shingle ids
    * ([[docShingles]] — 8-byte join keys, not shingle strings), ordered
    * rare-first (df asc, sid asc — a total order); only prefixes are
    * indexed, and a length filter (J ≤ min/max sizes) prunes inside the
    * equi-join. The threshold compare is all-integer cross-multiplication
    * — no float edge.
    *
    * Verification is per-PAIR, not per-posting: each candidate pair joins
    * the two docs' collected id arrays (co-partitioned hash joins on doc
    * id) and `array_intersect` computes |A∩B| in O(|A|+|B|) inside the
    * row — the naive alternative (re-joining full postings per candidate)
    * fans each pair out by the document length and collapses into a
    * sort-merge of candidates×length rows once the candidate frame
    * outgrows the broadcast threshold (measured: 40× wall at 10× corpus;
    * array verify holds the curve linear). No similarity is ever missed —
    * the trade against banding is verify cost, not recall.
    *
    * Because verify cost is candidates × document length, candidates are
    * pruned with the PPJoin '''positional filter''' before any array is
    * materialized: a shared prefix element at (1-based, rare-first) ranks
    * (i, j) of docs sized (|A|, |B|) bounds the total overlap by
    * min(i−1, j−1) + 1 + min(|A|−i, |B|−j) — common elements before it sit
    * below rank i AND j, common elements after it above both. Every shared
    * prefix element yields such a bound, the pair-level bound is their MIN,
    * and a pair survives only if it can still reach the required overlap
    * α = ⌈t·(|A|+|B|) / (1+t)⌉ (from J ≥ t ⇔ |A∩B|·(1+t) ≥ t·(|A|+|B|)),
    * compared purely in integers. The filter rides the aggregation that
    * replaced `distinct()` on candidate pairs — same shuffle, fewer
    * surviving rows — and is exactness-preserving, so recall stays
    * complete.
    *
    * `threshold` must sit on the 1/100 grid (checked): the exact integer
    * comparisons use t = num/100, and silently snapping an off-grid
    * threshold (e.g. 0.615) would miss pairs with Jaccard in
    * [t, ⌈100t⌉/100) — a correctness contract, not a convenience.
    */
  def prefixJaccardJoin(docs: DataFrame, threshold: Double = 0.6,
      shingleN: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    // integer threshold t = num/den for the exact comparison
    val (tNum, tDen) = prefixThresholdFraction(threshold)
    val posts = docShingles(docs, shingleN).localCheckpoint() // df, prefix, and sets
    val cand = prefixCandidatesFromPosts(posts, tNum, tDen, positional = true)
    val sets = posts.groupBy("doc_id")
      .agg(collect_set(col("sid")).as("sids"), count(lit(1)).as("n"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sids").as("sa"),
        col("n").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sids").as("sb"),
        col("n").as("nb")), Seq("doc_b"))
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
      // J >= t  <=>  den * inter >= num * union (exact integers)
      .filter(col("n_inter") * tDen >= col("n_union") * tNum)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
        (col("n_inter").cast("double") / col("n_union").cast("double")).as("jaccard"))
  }

  /** The candidate stage of [[prefixJaccardJoin]]: prefix-index equi-join
    * with the length filter, deduped per pair, and (when `positional`)
    * pruned by the PPJoin positional filter. Split out and toggleable so
    * the filter's exactness (same final pairs) and its pruning power
    * (candidate cardinality) are independently testable and reportable by
    * `ScaleBench`.
    */
  private[graft] def prefixCandidatesFromPosts(posts: DataFrame,
      tNum: Long, tDen: Long, positional: Boolean): DataFrame = {
    val df = posts.groupBy("sid").agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val ranked = posts.join(df, Seq("sid"))
      .withColumn("n", count(lit(1)).over(wDoc))
      .withColumn("rn", row_number().over(wDoc.orderBy(col("df"), col("sid"))))
      // prefix length n - ceil(t*n) + 1, all-integer ceil
      .withColumn("plen",
        col("n") - graft.functions.OracleSafe.intDiv(col("n") * tNum + (tDen - 1), lit(tDen)) + 1)
    val prefix = ranked.filter(col("rn") <= col("plen"))
      .select(col("doc_id"), col("sid"), col("n"), col("rn"))
    // positional filter: per shared prefix element, the overlap upper
    // bound from its ranks in both docs (see the contract above); MIN over
    // shared elements per pair, kept only if it can still reach
    // α = ceil(tNum·(na+nb) / (tNum+tDen)). Rides the same shuffle the
    // old distinct() paid — strictly fewer rows reach the array verify.
    val ub = least(col("a.rn") - 1, col("b.rn") - 1) + 1 +
      least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn"))
    val grouped = prefix.as("a")
      .join(prefix.as("b"),
        col("a.sid") === col("b.sid") && col("a.doc_id") < col("b.doc_id")
          // length filter: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so sizes
          // further apart than t cannot qualify (exactness-preserving)
          && least(col("a.n"), col("b.n")) * tDen
            >= greatest(col("a.n"), col("b.n")) * tNum)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("pna"), col("b.n").as("pnb"), ub.as("ub"))
      .groupBy("doc_a", "doc_b", "pna", "pnb")
      .agg(min(col("ub")).as("ub"))
    val kept =
      if (positional)
        // ub >= ceil(p/q)  <=>  ub*q >= p for positive integers
        grouped.filter(col("ub") * (tNum + tDen) >= lit(tNum) * (col("pna") + col("pnb")))
      else grouped
    kept.select("doc_a", "doc_b")
  }

  /** [[prefixCandidatesFromPosts]] from raw documents — the ScaleBench /
    * spec entry point for candidate-cardinality evidence.
    */
  private[graft] def prefixJaccardCandidates(docs: DataFrame,
      threshold: Double = 0.6, shingleN: Int = 3,
      positional: Boolean = true): DataFrame = {
    val (tNum, tDen) = prefixThresholdFraction(threshold)
    prefixCandidatesFromPosts(docShingles(docs, shingleN).localCheckpoint(),
      tNum, tDen, positional)
  }

  /** Exact integer fraction num/100 for a prefix-join threshold; rejects
    * thresholds off the 1/100 grid instead of silently snapping them (an
    * off-grid snap would miss pairs — see [[prefixJaccardJoin]]).
    */
  private def prefixThresholdFraction(threshold: Double): (Long, Long) = {
    val den = 100L
    val num = math.rint(threshold * den).toLong
    require(math.abs(threshold * den - num) < 1e-9 && num >= 1,
      s"threshold must be a positive multiple of 0.01, got $threshold: " +
        "the exact integer comparison is defined on the 1/100 grid only")
    (num, den)
  }

  /** DuckDB twin of [[prefixJaccardJoin]]; embed after `WITH ` and
    * select from `prefix_join`.
    */
  def prefixJaccardJoinSql(threshold: Double = 0.6, shingleN: Int = 3): String = {
    s"""${docShinglesSql(shingleN)},
       |${prefixJaccardJoinSqlFromShingles(threshold)}""".stripMargin
  }

  /** The `pj_*`/`prefix_join` CTEs alone (expects `doc_shingles` already
    * defined) — for twins composing the exact join with other shingle
    * consumers.
    */
  private[graft] def prefixJaccardJoinSqlFromShingles(threshold: Double): String = {
    val (tNum, tDen) = prefixThresholdFraction(threshold)
    val ceilDiv = graft.functions.OracleSafe.intDivSql(s"n * $tNum + ${tDen - 1}", tDen.toString)
    s"""pj_df AS (SELECT sid, COUNT(*) AS df FROM doc_shingles GROUP BY sid),
       |pj_ranked AS (
       |  SELECT p.doc_id, p.sid,
       |         COUNT(*) OVER (PARTITION BY p.doc_id) AS n,
       |         ROW_NUMBER() OVER (PARTITION BY p.doc_id ORDER BY d.df, p.sid) AS rn
       |  FROM doc_shingles p JOIN pj_df d USING (sid)),
       |pj_prefix AS (
       |  SELECT doc_id, sid, n, rn FROM pj_ranked
       |  WHERE rn <= n - ($ceilDiv) + 1),
       |pj_cand AS (
       |  SELECT doc_a, doc_b
       |  FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |               a.n AS pna, b.n AS pnb,
       |               LEAST(a.rn - 1, b.rn - 1) + 1
       |                 + LEAST(a.n - a.rn, b.n - b.rn) AS ub
       |        FROM pj_prefix a JOIN pj_prefix b
       |          ON a.sid = b.sid AND a.doc_id < b.doc_id
       |         AND LEAST(a.n, b.n) * $tDen >= GREATEST(a.n, b.n) * $tNum) m
       |  GROUP BY doc_a, doc_b, pna, pnb
       |  HAVING MIN(ub) * ${tNum + tDen} >= $tNum * (pna + pnb)),
       |pj_sets AS (
       |  SELECT doc_id, array_agg(DISTINCT sid) AS sids, COUNT(*) AS n
       |  FROM doc_shingles GROUP BY doc_id),
       |pj_scored AS (
       |  SELECT c.doc_a, c.doc_b,
       |         CAST(len(list_filter(sa.sids, x -> list_contains(sb.sids, x))) AS BIGINT)
       |           AS n_inter,
       |         sa.n AS na, sb.n AS nb
       |  FROM pj_cand c
       |  JOIN pj_sets sa ON sa.doc_id = c.doc_a
       |  JOIN pj_sets sb ON sb.doc_id = c.doc_b),
       |prefix_join AS (
       |  SELECT doc_a, doc_b, n_inter, na + nb - n_inter AS n_union,
       |         CAST(n_inter AS DOUBLE) / CAST(na + nb - n_inter AS DOUBLE) AS jaccard
       |  FROM pj_scored
       |  WHERE n_inter * $tDen >= (na + nb - n_inter) * $tNum)""".stripMargin
  }

  /** EXACT containment join for benchmark-contamination forensics: every
    * pair (q, d) where q is a benchmark doc (`source = benchmarkSource`),
    * d is a corpus doc from any other source, and the containment
    * |Sh(q) ∩ Sh(d)| / |Sh(q)| ≥ `threshold` — i.e. at least that fraction
    * of the benchmark item's shingles appear in the training doc. The
    * doc-level sweep ([[TextAnalysis.contamination]], q55) scores each doc
    * against the POOLED benchmark shingle set; this is the PAIR form the
    * leak investigation needs ("which eval item is inside which doc"),
    * and it never broadcasts — the benchmark tier can itself be huge.
    *
    * Containment is asymmetric, so the prefix filter applies to the QUERY
    * side only: with α = ⌈t·|Q|⌉ required common elements, a qualifying d
    * must share one of Q's first |Q| − α + 1 rare-first elements (if it
    * misses all of them, at most α − 1 of Q's elements remain). There is
    * deliberately NO length filter — a huge d can fully contain a tiny q —
    * and no d-side prefix: d's elements are probed via the full postings
    * on 8-byte shingle ids (co-partitioned equi-join). Candidate count is
    * Σ over benchmark prefix elements of their document frequency —
    * linear in the postings touched by the (rare-first, so low-df) prefix
    * vocabulary, never |benchmark| × |corpus|. Verification is the same
    * per-pair `array_intersect` as [[prefixJaccardJoin]]. `threshold` must
    * sit on the 1/100 grid (same exactness contract).
    */
  def containmentJoin(docs: DataFrame, threshold: Double = 0.8,
      benchmarkSource: String = "src0", shingleN: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val (tNum, tDen) = prefixThresholdFraction(threshold)
    val posts = docShingles(docs, shingleN).localCheckpoint()
    val benchIds = docs.filter(col("source") === benchmarkSource).select("doc_id")
    val corpusIds = docs.filter(col("source") =!= benchmarkSource).select("doc_id")
    val df = posts.groupBy("sid").agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val qRanked = posts.join(benchIds, Seq("doc_id"), "left_semi")
      .join(df, Seq("sid"))
      .withColumn("nq", count(lit(1)).over(wDoc))
      .withColumn("rn", row_number().over(wDoc.orderBy(col("df"), col("sid"))))
      // prefix length |Q| - ceil(t*|Q|) + 1, all-integer ceil
      .withColumn("plen",
        col("nq") - graft.functions.OracleSafe.intDiv(col("nq") * tNum + (tDen - 1), lit(tDen)) + 1)
    val qPrefix = qRanked.filter(col("rn") <= col("plen"))
      .select(col("doc_id").as("bench_id"), col("sid"))
    val dPosts = posts.join(corpusIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("corpus_id"), col("sid"))
    val cand = qPrefix.join(dPosts, Seq("sid"))
      .select("bench_id", "corpus_id").distinct()
    val sets = posts.groupBy("doc_id")
      .agg(collect_set(col("sid")).as("sids"), count(lit(1)).as("n"))
    cand
      .join(sets.select(col("doc_id").as("bench_id"), col("sids").as("sq"),
        col("n").as("n_q")), Seq("bench_id"))
      .join(sets.select(col("doc_id").as("corpus_id"), col("sids").as("sd")),
        Seq("corpus_id"))
      .withColumn("n_inter", size(array_intersect(col("sq"), col("sd"))).cast("long"))
      // containment >= t  <=>  den * inter >= num * |Q| (exact integers)
      .filter(col("n_inter") * tDen >= col("n_q") * tNum)
      .select(col("bench_id"), col("corpus_id"), col("n_inter"), col("n_q"),
        (col("n_inter").cast("double") / col("n_q").cast("double")).as("containment"))
  }

  /** DuckDB twin of [[containmentJoin]]; embed after `WITH ` and select
    * from `containment_join`.
    */
  def containmentJoinSql(threshold: Double = 0.8,
      benchmarkSource: String = "src0", shingleN: Int = 3): String = {
    val (tNum, tDen) = prefixThresholdFraction(threshold)
    val ceilDiv = graft.functions.OracleSafe.intDivSql(s"nq * $tNum + ${tDen - 1}", tDen.toString)
    s"""${docShinglesSql(shingleN)},
       |cj_df AS (SELECT sid, COUNT(*) AS df FROM doc_shingles GROUP BY sid),
       |cj_qranked AS (
       |  SELECT p.doc_id, p.sid,
       |         COUNT(*) OVER (PARTITION BY p.doc_id) AS nq,
       |         ROW_NUMBER() OVER (PARTITION BY p.doc_id ORDER BY d.df, p.sid) AS rn
       |  FROM doc_shingles p JOIN cj_df d USING (sid)
       |  WHERE p.doc_id IN (SELECT doc_id FROM documents WHERE source = '$benchmarkSource')),
       |cj_qprefix AS (
       |  SELECT doc_id AS bench_id, sid FROM cj_qranked
       |  WHERE rn <= nq - ($ceilDiv) + 1),
       |cj_dposts AS (
       |  SELECT doc_id AS corpus_id, sid FROM doc_shingles
       |  WHERE doc_id IN (SELECT doc_id FROM documents WHERE source <> '$benchmarkSource')),
       |cj_cand AS (
       |  SELECT DISTINCT bench_id, corpus_id
       |  FROM cj_qprefix q JOIN cj_dposts d USING (sid)),
       |cj_sets AS (
       |  SELECT doc_id, array_agg(DISTINCT sid) AS sids, COUNT(*) AS n
       |  FROM doc_shingles GROUP BY doc_id),
       |containment_join AS (
       |  SELECT c.bench_id, c.corpus_id,
       |         CAST(len(list_filter(sq.sids, x -> list_contains(sd.sids, x))) AS BIGINT)
       |           AS n_inter,
       |         sq.n AS n_q,
       |         CAST(len(list_filter(sq.sids, x -> list_contains(sd.sids, x))) AS DOUBLE)
       |           / CAST(sq.n AS DOUBLE) AS containment
       |  FROM cj_cand c
       |  JOIN cj_sets sq ON sq.doc_id = c.bench_id
       |  JOIN cj_sets sd ON sd.doc_id = c.corpus_id
       |  WHERE CAST(len(list_filter(sq.sids, x -> list_contains(sd.sids, x))) AS BIGINT)
       |          * $tDen >= sq.n * $tNum)""".stripMargin
  }

  /** KMV (bottom-k / k-minimum-values) distinct-shingle sketch per source,
    * audited against the exact count. The sketch is the k smallest 48-bit
    * shingle ids a source contains; since the ids are uniform on [0, 2⁴⁸),
    * the kth minimum h_k estimates the distinct count as
    * (k−1)·2⁴⁸ / h_k (Bar-Yossef et al. 2002). A source with fewer than k
    * distinct ids IS its own sketch — the "estimate" is exact there.
    *
    * Unlike HLL++ (q75), where only the error CONTRACT can be
    * oracle-checked because DuckDB cannot reproduce Spark's sketch, the
    * KMV estimate itself is cross-engine EXACT: the k minima are
    * integers both engines agree on, (k−1)·2⁴⁸ is exactly representable
    * (8-bit mantissa × 2⁴⁸), and the one double division is correctly
    * rounded on identical inputs — so the estimate, the exact count, and
    * the relative error are all hash-checked, not just a boolean.
    *
    * Scale shape: the per-source bottom-k rides [[graft.plans.TopK.perKey]]'s
    * bounded window (a map-side partial group limit, no global sort);
    * sketch size is k·8 bytes per source regardless of
    * corpus size, and sketches of shards/sources MERGE by taking the
    * bottom-k of the union — the property that makes KMV the right
    * distinct-counter for a 100 TB corpus profile.
    */
  def kmvDistinct(docs: DataFrame, k: Int = 256, shingleN: Int = 3): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val posts = docShingles(docs, shingleN)
    val bySrc = posts.join(docs.select("doc_id", "source"), Seq("doc_id"))
      .select(col("source"), col("sid")).distinct()
    val exact = bySrc.groupBy("source").agg(count(lit(1)).as("n_exact"))
    val kmin = graft.plans.TopK.perKey(bySrc, Seq("source"),
      Seq(graft.plans.TopK.asc("sid")), k = k, rankName = "rk")
    val kth = kmin.groupBy("source")
      .agg(count(lit(1)).as("n_in_sketch"), max(col("sid")).as("h_k"))
    exact.join(kth, Seq("source"))
      .select(col("source"), col("n_exact"),
        when(col("n_in_sketch") < k, col("n_in_sketch").cast("double"))
          .otherwise(lit((k - 1).toLong << 48).cast("double")
            / col("h_k").cast("double")).as("kmv_estimate"))
      .withColumn("rel_err",
        abs(col("kmv_estimate") - col("n_exact").cast("double"))
          / col("n_exact").cast("double"))
  }

  /** DuckDB twin of [[kmvDistinct]]; embed after `WITH ` and select from
    * `kmv_distinct`.
    */
  def kmvDistinctSql(k: Int = 256, shingleN: Int = 3): String = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    s"""${docShinglesSql(shingleN)},
       |kmv_src AS (
       |  SELECT DISTINCT d.source, p.sid
       |  FROM doc_shingles p JOIN documents d USING (doc_id)),
       |kmv_exact AS (SELECT source, COUNT(*) AS n_exact FROM kmv_src GROUP BY source),
       |kmv_kmin AS (
       |  SELECT source, sid FROM (
       |    SELECT source, sid,
       |           ROW_NUMBER() OVER (PARTITION BY source ORDER BY sid) AS rk
       |    FROM kmv_src) r
       |  WHERE rk <= $k),
       |kmv_kth AS (
       |  SELECT source, COUNT(*) AS n_in_sketch, MAX(sid) AS h_k
       |  FROM kmv_kmin GROUP BY source),
       |kmv_distinct AS (
       |  SELECT e.source, e.n_exact,
       |         CASE WHEN t.n_in_sketch < $k
       |              THEN CAST(t.n_in_sketch AS DOUBLE)
       |              ELSE CAST(${(k - 1).toLong << 48} AS DOUBLE)
       |                   / CAST(t.h_k AS DOUBLE) END AS kmv_estimate,
       |         ABS((CASE WHEN t.n_in_sketch < $k
       |              THEN CAST(t.n_in_sketch AS DOUBLE)
       |              ELSE CAST(${(k - 1).toLong << 48} AS DOUBLE)
       |                   / CAST(t.h_k AS DOUBLE) END) - CAST(e.n_exact AS DOUBLE))
       |           / CAST(e.n_exact AS DOUBLE) AS rel_err
       |  FROM kmv_exact e JOIN kmv_kth t USING (source))""".stripMargin
  }

  /** Cross-source duplication matrix: near-dup candidate pairs bucketed by
    * the (unordered) source pair — the crawl-curation signal for which
    * feeds mirror which (a high off-diagonal cell means two "independent"
    * sources are republishing the same text; a high diagonal means a
    * source self-duplicates). Source pairs are canonicalized with
    * least/greatest so (a,b) and (b,a) land in one cell.
    *
    * Scale shape: the candidate pairs come from banding (never all-pairs);
    * the two doc_id→source lookups are co-partitioned hash joins on the
    * pair frame, and the final aggregate's cardinality is bounded by
    * sources² — tiny at any corpus size.
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val pairs = lshCandidates(docs).select("doc_a", "doc_b")
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_lo"),
        greatest(col("sa"), col("sb")).as("source_hi"))
      .groupBy("source_lo", "source_hi")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** DuckDB twin of [[sourceOverlap]]; embed after `WITH ` and select from
    * `source_overlap`.
    */
  def sourceOverlapSql(): String =
    s"""${lshCandidatesSql()},
       |source_overlap AS (
       |  SELECT LEAST(da.source, db.source) AS source_lo,
       |         GREATEST(da.source, db.source) AS source_hi,
       |         COUNT(*) AS n_pairs
       |  FROM lsh_pairs p
       |  JOIN documents da ON da.doc_id = p.doc_a
       |  JOIN documents db ON db.doc_id = p.doc_b
       |  GROUP BY 1, 2)""".stripMargin

  /** Dedup savings report — the number every curation decision actually
    * turns on: per source, how many documents/tokens survive (a) exact
    * content dedup and (b) near-dup cluster dedup, i.e. how much of the
    * token budget each source REALLY contributes once duplicates are
    * collapsed. Survivorship is the same deterministic rule the dedup
    * operators themselves use (smallest doc_id per content hash / per
    * cluster), so this report is exactly consistent with [[exact]] (q40)
    * and [[dedupClusters]] (q59) rather than a parallel estimate.
    *
    * Shape at scale: the exact tier is one hash aggregate keyed on
    * md5(text) plus an equi-join back on that key — the q40 shuffle with
    * a second co-partitioned pass; the near-dup tier joins the
    * (vertices-only) cluster labels back to the corpus, with docs outside
    * the candidate graph defaulting to survivor (they ARE their own
    * cluster; no row needed). The final aggregate has one row per source.
    * Nothing here is pairwise and nothing is a window.
    *
    * Output: (source, n_docs, total_tokens, exact_kept_docs,
    * exact_kept_tokens, neardup_kept_docs, neardup_kept_tokens), exact
    * integers throughout.
    */
  def dedupSavings(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_toks"),
      md5(col("text")).as("h"))
    val keepers = toks.groupBy("h").agg(min("doc_id").as("keep_id"))
    val clusters = dedupClusters(docs).select("doc_id", "is_survivor")
    toks
      .join(keepers, Seq("h"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("source"), col("n_toks"),
        (col("doc_id") === col("keep_id")).cast("long").as("exact_kept"),
        coalesce(col("is_survivor").cast("long"), lit(1L)).as("neardup_kept"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("total_tokens"),
        sum("exact_kept").as("exact_kept_docs"),
        sum(col("exact_kept") * col("n_toks")).as("exact_kept_tokens"),
        sum("neardup_kept").as("neardup_kept_docs"),
        sum(col("neardup_kept") * col("n_toks")).as("neardup_kept_tokens"))
  }

  /** DuckDB twin of [[dedupSavings]] — same survivor rules. Must be opened
    * with `WITH RECURSIVE` (it embeds [[dedupClustersSql]]).
    */
  def dedupSavingsSql(): String =
    s"""${dedupClustersSql()},
       |ds_toks AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
       |         md5(text) AS h
       |  FROM documents),
       |ds_keepers AS (SELECT h, MIN(doc_id) AS keep_id FROM ds_toks GROUP BY h),
       |dedup_savings AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |         CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       |         CAST(SUM(exact_kept) AS BIGINT) AS exact_kept_docs,
       |         CAST(SUM(exact_kept * n_toks) AS BIGINT) AS exact_kept_tokens,
       |         CAST(SUM(neardup_kept) AS BIGINT) AS neardup_kept_docs,
       |         CAST(SUM(neardup_kept * n_toks) AS BIGINT) AS neardup_kept_tokens
       |  FROM (
       |    SELECT t.source, t.n_toks,
       |           CAST(t.doc_id = k.keep_id AS BIGINT) AS exact_kept,
       |           COALESCE(CAST(c.is_survivor AS BIGINT), 1) AS neardup_kept
       |    FROM ds_toks t
       |    JOIN ds_keepers k USING (h)
       |    LEFT JOIN dedup_clusters c USING (doc_id)) f
       |  GROUP BY source)""".stripMargin

  /** Incremental ingest dedup: classify each NEW document (the delta —
    * doc_id ≡ 0 mod `mod`, the deterministic stand-in for today's crawl
    * batch) against the already-indexed corpus (every other doc) WITHOUT
    * a corpus-side pair join. Exact duplicates come from a fingerprint
    * equi-join (same normalized-token-set md5 as [[incrementalDedup]]);
    * near-duplicates from probing the corpus's LSH (band, band-hash)
    * index with the delta's bands — exactly how a production ingest
    * probes a PRECOMPUTED index, so the incremental cost is
    * O(|delta| bands + matched buckets) and the full-corpus self-join of
    * the batch path (q43) never happens. A delta doc that fingerprint-
    * matches a corpus doc is `exact_dup`; one that only band-collides
    * with a fingerprint-DIFFERENT corpus doc is `near_dup`; else `new`.
    */
  def incrementalNearDup(docs: DataFrame, mod: Long = 7, numHashes: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val fps = docs.select(col("doc_id"),
      md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " "))
        .as("fp"),
      (col("doc_id") % mod === 0).as("is_delta"))
    val bands = minhashSignatures(docs, numHashes)
      .withColumn("band", (col("h") / lit(rowsPerBand)).cast("int"))
      .groupBy("doc_id", "band")
      .agg(collect_list(struct(col("h"), col("mh"))).as("hs"))
      .select(col("doc_id"), col("band"),
        md5(array_join(transform(array_sort(col("hs")),
          s => s.getField("mh").cast("string")), ",")).as("bh"))
      .join(fps, Seq("doc_id"))
    val deltaB = bands.filter(col("is_delta"))
      .select(col("doc_id"), col("band"), col("bh"), col("fp"))
    val corpusB = bands.filter(!col("is_delta"))
      .select(col("band"), col("bh"), col("doc_id").as("corpus_doc"),
        col("fp").as("cfp"))
    val near = deltaB.join(corpusB, Seq("band", "bh"))
      .filter(col("fp") =!= col("cfp"))
      .groupBy("doc_id")
      .agg(countDistinct(col("corpus_doc")).as("n_near"))
    val exact = fps.filter(col("is_delta")).select("doc_id", "fp")
      .join(fps.filter(!col("is_delta"))
          .select(col("fp"), col("doc_id").as("cd")), Seq("fp"))
      .groupBy("doc_id")
      .agg(countDistinct(col("cd")).as("n_exact"))
    fps.filter(col("is_delta")).select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        when(coalesce(col("n_exact"), lit(0L)) > 0, "exact_dup")
          .when(coalesce(col("n_near"), lit(0L)) > 0, "near_dup")
          .otherwise("new").as("status"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[incrementalNearDup]]; embed after `WITH ` and
    * select from `incremental_near_dup`.
    */
  def incrementalNearDupSql(mod: Long = 7, numHashes: Int = 16,
      rowsPerBand: Int = 4): String =
    s"""${minhashSignaturesSql(numHashes)},
       |ind_fps AS (
       |  SELECT doc_id,
       |         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
       |           AS fp,
       |         doc_id % $mod = 0 AS is_delta
       |  FROM documents),
       |ind_bands AS (
       |  SELECT doc_id, h // $rowsPerBand AS band,
       |         md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY h)) AS bh
       |  FROM minhash GROUP BY doc_id, h // $rowsPerBand),
       |ind_b AS (
       |  SELECT b.doc_id, band, bh, fp, is_delta
       |  FROM ind_bands b JOIN ind_fps USING (doc_id)),
       |ind_near AS (
       |  SELECT d.doc_id, COUNT(DISTINCT c.doc_id) AS n_near
       |  FROM ind_b d JOIN ind_b c
       |    ON d.band = c.band AND d.bh = c.bh
       |   AND d.is_delta AND NOT c.is_delta AND d.fp <> c.fp
       |  GROUP BY 1),
       |ind_exact AS (
       |  SELECT d.doc_id, COUNT(DISTINCT c.doc_id) AS n_exact
       |  FROM ind_fps d JOIN ind_fps c
       |    ON d.fp = c.fp AND d.is_delta AND NOT c.is_delta
       |  GROUP BY 1),
       |incremental_near_dup AS (
       |  SELECT f.doc_id,
       |         COALESCE(n_exact, 0) AS n_exact,
       |         COALESCE(n_near, 0) AS n_near,
       |         CASE WHEN COALESCE(n_exact, 0) > 0 THEN 'exact_dup'
       |              WHEN COALESCE(n_near, 0) > 0 THEN 'near_dup'
       |              ELSE 'new' END AS status
       |  FROM ind_fps f
       |  LEFT JOIN ind_exact ON f.doc_id = ind_exact.doc_id
       |  LEFT JOIN ind_near ON f.doc_id = ind_near.doc_id
       |  WHERE f.is_delta)""".stripMargin

  /** q276 — LEAVE-ONE-OUT source ablation from sufficient statistics:
    * for every source, the corpus-level duplicate count and mean doc
    * size RECOMPUTED as if that source were removed — the per-source
    * influence measurement behind "which feed is polluting the mix",
    * answered WITHOUT |sources| corpus rescans. The trick is algebraic:
    * duplicates(corpus) = N − |distinct fingerprints|, and removing
    * source s only deletes the fingerprints s solely owns, so
    * dups(−s) = (N − n_s) − (D − solely_owned_s). Everything reduces to
    * one fingerprint-grain aggregate (16-byte keys, never text) plus a
    * per-source rollup — O(distinct fps) total, the q147 shuffle shape
    * — even though duplication is a CROSS-source property that naive
    * LOO would recompute |sources| times.
    *
    * Output: one row per source with its LOO corpus stats, plus the
    * `__all__` row carrying the full-corpus numbers in the same columns
    * (n_docs = N, owned_fps = D, loo_* = the full corpus itself).
    */
  def looSourceAblation(docs: DataFrame): DataFrame = {
    val fps = docs.select(col("source"), md5(col("text")).as("fp"),
      col("n_chars").cast("long").as("chars")).localCheckpoint()
    val perFp = fps.groupBy("fp").agg(
      countDistinct("source").as("n_src"), min("source").as("only_src"))
    val bySrc = fps.groupBy("source").agg(count(lit(1)).as("n_docs"),
      sum("chars").as("chars"))
    val glob = fps.agg(count(lit(1)).as("n_all"), sum("chars").as("t_all"))
      .crossJoin(perFp.agg(count(lit(1)).as("d_all")))
    val owned = perFp.filter(col("n_src") === 1)
      .groupBy(col("only_src").as("source"))
      .agg(count(lit(1)).as("owned_fps"))
    val perSource = bySrc.join(owned, Seq("source"), "left")
      .na.fill(0L, Seq("owned_fps"))
      .crossJoin(broadcast(glob))
      .select(col("source"), col("n_docs"), col("owned_fps"),
        (col("n_all") - col("n_docs")).as("loo_docs"),
        ((col("n_all") - col("n_docs"))
          - (col("d_all") - col("owned_fps"))).as("loo_dups"),
        (((col("n_all") - col("n_docs"))
          - (col("d_all") - col("owned_fps"))).cast("double")
          / (col("n_all") - col("n_docs")).cast("double")).as("loo_dup_rate"),
        ((col("t_all") - col("chars")).cast("double")
          / (col("n_all") - col("n_docs")).cast("double")).as("loo_avg_chars"))
    val full = glob.select(lit("__all__").as("source"),
      col("n_all").as("n_docs"), col("d_all").as("owned_fps"),
      col("n_all").as("loo_docs"),
      (col("n_all") - col("d_all")).as("loo_dups"),
      ((col("n_all") - col("d_all")).cast("double")
        / col("n_all").cast("double")).as("loo_dup_rate"),
      (col("t_all").cast("double") / col("n_all").cast("double"))
        .as("loo_avg_chars"))
    perSource.unionByName(full).orderBy("source")
  }

  /** DuckDB twin of [[looSourceAblation]]. Embed after `WITH ` and
    * select from `loo_ablation`.
    */
  def looSourceAblationSql(): String =
    s"""loo_fps AS (
       |  SELECT source, md5(text) AS fp, CAST(n_chars AS BIGINT) AS chars
       |  FROM documents),
       |loo_perfp AS (
       |  SELECT fp, COUNT(DISTINCT source) AS n_src,
       |         MIN(source) AS only_src
       |  FROM loo_fps GROUP BY 1),
       |loo_bysrc AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(SUM(chars) AS BIGINT) AS chars
       |  FROM loo_fps GROUP BY 1),
       |loo_glob AS (
       |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM loo_fps) AS n_all,
       |         (SELECT CAST(SUM(chars) AS BIGINT) FROM loo_fps) AS t_all,
       |         (SELECT CAST(COUNT(*) AS BIGINT) FROM loo_perfp) AS d_all),
       |loo_owned AS (
       |  SELECT only_src AS source, CAST(COUNT(*) AS BIGINT) AS owned_fps
       |  FROM loo_perfp WHERE n_src = 1 GROUP BY 1),
       |loo_ablation AS (
       |  SELECT b.source, b.n_docs,
       |         COALESCE(o.owned_fps, 0) AS owned_fps,
       |         g.n_all - b.n_docs AS loo_docs,
       |         (g.n_all - b.n_docs) - (g.d_all - COALESCE(o.owned_fps, 0))
       |           AS loo_dups,
       |         CAST((g.n_all - b.n_docs)
       |              - (g.d_all - COALESCE(o.owned_fps, 0)) AS DOUBLE)
       |           / CAST(g.n_all - b.n_docs AS DOUBLE) AS loo_dup_rate,
       |         CAST(g.t_all - b.chars AS DOUBLE)
       |           / CAST(g.n_all - b.n_docs AS DOUBLE) AS loo_avg_chars
       |  FROM loo_bysrc b LEFT JOIN loo_owned o USING (source), loo_glob g
       |  UNION ALL
       |  SELECT '__all__', n_all, d_all, n_all, n_all - d_all,
       |         CAST(n_all - d_all AS DOUBLE) / CAST(n_all AS DOUBLE),
       |         CAST(t_all AS DOUBLE) / CAST(n_all AS DOUBLE)
       |  FROM loo_glob)""".stripMargin
}
