package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines (BASELINE.json north
  * star), each designed for 100TB:
  *
  *  - exact: hash-groupBy on the content hash — one shuffle on a 256-bit key,
  *    never on the full text.
  *  - MinHash+LSH: shingle → k minhashes → banded bucket-join; candidate
  *    generation is an equi-join on (band, bucket), NOT an all-pairs product.
  *    Oversized buckets (degenerate content) are dropped by a cap, the
  *    standard skew guard.
  *  - SimHash: 64-bit signature, near-dups via 16-bit chunk banding + popcount
  *    verify — again equi-join candidates only.
  *  - n-gram Jaccard: inverted-index join on shared shingles (equi-join on the
  *    shingle string), exact verification.
  *
  * Checkpoint constraint: every `localCheckpoint` here cuts the lineage and
  * keeps the blocks only in executor storage, not in reliable storage. If an
  * executor holding them is lost (e.g. removed under dynamic allocation),
  * Spark cannot recompute them and the query fails.
  */
object Dedup {

  /** Exact duplicate groups by content hash: representative = min id.
    * (At scale the 64-char sha2 hex is the shuffle key; texts stay put.)
    * NULL texts form their own group (SQL GROUP BY semantics): sha2(NULL) is
    * NULL and null keys never equi-join, so they hash to a sentinel that no
    * 64-char hex digest can collide with. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(contentKey(col(textCol)).as("content_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** Null-safe content hash key (NULL → sentinel shorter than any digest). */
  def contentKey(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(sha2(text, 256), lit("__null__"))

  /** Per-(id, distinct shingle) long-format relation (native shingler —
    * same semantics as TextFunctions.shingles, ~100× less per-doc overhead). */
  private def shingleSet(docs: DataFrame, idCol: String, textCol: String, n: Int) = {
    graft.functions.TextExpressions.register(docs.sparkSession)
    docs.select(col(idCol).as("id"),
      explode(array_distinct(graft.functions.TextExpressions.wordShingles(col(textCol), n))).as("sh"))
  }

  /** Exact n-gram Jaccard near-dup pairs via inverted-index equi-join: one
    * shuffle on the shingle string, pair overlap counted directly from the
    * matching rows (cost ~ Σ_sh df(sh)² — bounded and measurable up front).
    * For corpora with very hot shingles, [[minhashLsh]] is the scale path;
    * a PPJoin prefix filter was measured here and lost: with a small
    * vocabulary nearly all pairs share a rare-prefix shingle, so candidate
    * pruning pays its overhead without shrinking the join. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, threshold: Double = 0.5): DataFrame = {
    // join on the shingle's 64-bit hash, not the string: same join (collision
    // odds ~|shingles|²/2⁶⁵), fixed-width shuffle keys instead of strings.
    // r18 opt (guide §5 cache-vs-recompute, the CteMaterializer trade for
    // DataFrame operators): this relation is referenced THREE times below
    // (sizes, id_a side, id_b side) and Spark re-plans the expensive native
    // shingling scan per reference (the id_b side is a broadcast build, so
    // no exchange reuse applies). A lazy localCheckpoint computes it once
    // per invocation and block-caches it for the other references — plan-
    // instance data only, nothing registers with the CacheManager, every
    // run recomputes from parquet. The checkpoint cuts lineage: losing an
    // executor (e.g. under dynamic allocation) fails the query.
    val sh = shingleSet(docs, idCol, textCol, shingleSize)
      .select(col("id"), xxhash64(col("sh")).as("shh"))
      .localCheckpoint(eager = false)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val shared = sh.toDF("id_a", "shh")
      .join(sh.toDF("id_b", "shh"), Seq("shh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.toDF("id_a", "n_a"), Seq("id_a"))
      .join(sizes.toDF("id_b", "n_b"), Seq("id_b"))
      .withColumn("jaccard",
        round(col("n_shared").cast("double")
          / (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Composable MinHash signature — the definitional formulation (k min-
    * aggregates of xxhash64(i, shingle) over the exploded shingle relation).
    * Kept as the dual-formulation gate for the native [[minhashLsh]] path:
    * Verify runs the LSH pipeline over both signature sources and fails the
    * query if they ever diverge. Docs with zero shingles drop out here; they
    * also produce no verified pairs on the native path (no shared shingles),
    * so the pipeline outputs still agree. */
  private def minhashSigComposable(docs: DataFrame, idCol: String, textCol: String,
                                   shingleSize: Int, numHashes: Int): DataFrame = {
    val sh = shingleSet(docs, idCol, textCol, shingleSize)
    val aggs = (0 until numHashes).map(i => min(xxhash64(lit(i), col("sh"))).as(s"h$i"))
    sh.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash signatures + banded LSH candidate pairs, exact-Jaccard verified.
    *
    * @param maxBucketSize skew guard: LSH buckets larger than this (boiler-
    *   plate/degenerate shingles) are dropped rather than joined — at 100TB a
    *   single hot bucket would otherwise quadratically explode one task.
    * @param composableSig use the definitional aggregate signature instead of
    *   the native one-pass expression (dual-formulation gate; slower).
    */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
                 threshold: Double = 0.5, maxBucketSize: Int = 1000,
                 composableSig: Boolean = false): DataFrame = {
    // one-pass native signature per doc (element i == the composable
    // min(xxhash64(lit(i), sh)) over exploded distinct shingles) — no k-hash
    // evals per exploded shingle row, no 32-column aggregate
    graft.functions.TextExpressions.register(docs.sparkSession)
    val sig =
      if (composableSig) minhashSigComposable(docs, idCol, textCol, shingleSize, numHashes)
      else docs.select(col(idCol).as("id"),
        graft.functions.TextExpressions.minhashSig(col(textCol), shingleSize, numHashes).as("sig"))
    minhashLshFromSigs(docs, sig, idCol, textCol, shingleSize, numHashes, bands,
      threshold, maxBucketSize)
  }

  /** The banding + verification stage of [[minhashLsh]] over an ALREADY
    * COMPUTED signature relation `(id, sig: array<long>)` — split out so the
    * q33 oracle can stage Spark's signatures as parquet and have DuckDB
    * replay the entire downstream pipeline (band slice self-join, bucket
    * skew cap, exact-Jaccard verify) hash-exact; only the signature hash
    * itself stays un-oracled (mirrors the q34 simhash gate). Banding joins
    * on xxhash64 of the band slice; grouping by the slice VALUES (what the
    * oracle does) is the same partition modulo 64-bit collisions. */
  def minhashLshFromSigs(docs: DataFrame, sig: DataFrame, idCol: String,
                         textCol: String, shingleSize: Int = 3,
                         numHashes: Int = 32, bands: Int = 8,
                         threshold: Double = 0.5, maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val sh = shingleSet(docs, idCol, textCol, shingleSize)

    val bandHashes = (0 until bands).map { b =>
      xxhash64((lit(b) +: (0 until rows).map(r => col("sig").getItem(b * rows + r))): _*)
    }
    val buckets = sig
      .select(col("id"), posexplode(array(bandHashes: _*)).as(Seq("band_id", "bucket")))

    // skew guard: oversized buckets are few by construction, so find them
    // with a cheap partial-agg groupBy and anti-join them away — not a
    // window count (which costs a full sort-based exchange over every row).
    // No forced broadcast: on degenerate corpora (tiny cap / heavy
    // boilerplate) the oversized set itself can be large, so let AQE pick
    // broadcast-vs-shuffle from the measured size at runtime.
    val oversized = buckets.groupBy(col("band_id"), col("bucket"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucketSize)
      .select(col("band_id"), col("bucket"))
    val safeBuckets = buckets.join(oversized, Seq("band_id", "bucket"), "left_anti")
      .select(col("id"), col("band_id"), col("bucket")) // using-join put keys first; restore order for positional toDF below

    // r18 opt (guide §5, same trade as ngramJaccard's checkpoint): the
    // candidate pair set is referenced three times below (both candIds
    // arms and the verification join) and each reference re-executed the
    // whole banding self-join + distinct; one lazy checkpoint runs it once
    // per invocation. Honesty contract identical to CteMaterializer's. The
    // checkpoint cuts lineage: losing an executor fails the query.
    val candidates = safeBuckets.toDF("id_a", "band_id", "bucket")
      .join(safeBuckets.toDF("id_b", "band_id", "bucket"), Seq("band_id", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
      .localCheckpoint(eager = false)

    // exact verification of candidates only (hashed shingle keys, as in
    // ngramJaccard). Semi-join the shingle relation down to ids that appear
    // in some candidate pair first: verification then shuffles candidate
    // docs' shingles only, not the whole corpus's — at 100TB the candidate
    // set is a sliver of the corpus, so this is the difference between
    // re-scanning everything twice and touching only suspected dups.
    val candIds = candidates.select(col("id_a").as("id"))
      .unionByName(candidates.select(col("id_b").as("id"))).distinct()
    // referenced three times (sizes + both verification arms): checkpoint so
    // the shingling scan and the candidate semi-join run once per invocation
    // (lineage is cut: losing an executor fails the query)
    val shHashed = sh.select(col("id"), xxhash64(col("sh")).as("shh"))
      .join(candIds, Seq("id"), "left_semi")
      .localCheckpoint(eager = false)
    val sizes = shHashed.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val shared = candidates
      .join(shHashed.toDF("id_a", "shh"), Seq("id_a"))
      .join(shHashed.toDF("id_b", "shh2"), Seq("id_b"))
      .filter(col("shh") === col("shh2"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.toDF("id_a", "n_a"), Seq("id_a"))
      .join(sizes.toDF("id_b", "n_b"), Seq("id_b"))
      .withColumn("jaccard",
        round(col("n_shared").cast("double")
          / (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Transitive closure of near-dup pairs into duplicate GROUPS — the step
    * every real dedup pipeline needs after pair generation: near-dup is not
    * transitive, but the keep/drop decision is made per connected component
    * (keep the canonical doc, drop the rest). Reference analogue: the
    * signature-grouping in onfy_product_analogues groups by an equality key;
    * for near-dup pairs the group is the component of the similarity graph.
    *
    * Pure-DataFrame iterative min-label propagation: each round every node
    * takes the minimum label among itself and its neighbors; converges in
    * O(component diameter) rounds. Near-dup components are shallow (dup
    * clusters, not social graphs), so the diameter is small; each round is
    * one equi-join + partial-aggregated groupBy on the node id — no driver
    * data, no quadratic term. `localCheckpoint` truncates the growing plan
    * lineage each round (the classic iterative-DataFrame trap); with the
    * lineage cut, losing an executor (e.g. under dynamic allocation) fails
    * the query. For
    * adversarially long chains the O(log n) alternative is implemented as
    * [[dupGroupsTwoPhase]] (property-verified equivalent; min-label measured
    * faster on real near-dup graphs because their components are shallow).
    *
    * @param pairs near-dup pairs with columns `id_a`, `id_b` (any numeric/
    *   string orderable id type)
    * @return one row per id appearing in `pairs`: (id, group_id) where
    *   group_id = MIN(id) over its component
    */
  def dupGroups(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    // each localCheckpoint below cuts lineage (see the object scaladoc)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")).localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("label")).as("nbr_label"))
      val merged = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("next_label"))
        .localCheckpoint()
      changed = merged.filter(col("next_label") < col("label")).count()
      labels = merged.select(col("id"), col("next_label").as("label"))
      iter += 1
    }
    require(changed == 0, s"dupGroups did not converge in $maxIter iterations")
    labels.select(col("id"), col("label").as("group_id"))
  }

  /** Connected components via alternating large-star / small-star rounds —
    * the O(log n)-round algorithm published as Kiveris et al., "Connected
    * Components in MapReduce and Beyond" (SoCC'14) — the scale path
    * [[dupGroups]]'s scaladoc names for adversarially long chains, where
    * min-label propagation needs O(diameter) rounds.
    *
    * Each round is two passes, both (groupBy(node).min + equi-join) shaped —
    * no collect_list adjacency materialization, no driver data:
    *  - large-star: every node's LARGER neighbors re-attach to its current
    *    minimum (min over the node and all its neighbors);
    *  - small-star: every node and its smaller-or-equal neighbors re-attach
    *    to the minimum of that smaller set.
    * Edges are kept canonical (hi, lo); at convergence the edge set is a
    * star forest (member, component-min). Convergence is detected by an
    * (edge-count, order-free checksum) pair going stable — one tiny
    * aggregate per round, no edge-set diff join.
    *
    * Same contract as [[dupGroups]]: (id, group_id = MIN(id) of component);
    * OpsProperties asserts the two algorithms agree on random graphs.
    */
  def dupGroupsTwoPhase(pairs: DataFrame, maxIter: Int = 40): DataFrame = {
    // canonical (hi, lo) undirected edges, self-loops dropped; each
    // localCheckpoint cuts lineage (see the object scaladoc)
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("hi"),
        least(col("id_a"), col("id_b")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct().localCheckpoint()
    def sym(e: DataFrame): DataFrame =
      e.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(e.select(col("lo").as("u"), col("hi").as("v")))
    def checksum(e: DataFrame): (Long, Long) = {
      // bit_xor is order-free and overflow-free (edges are distinct, so no
      // duplicate self-cancellation); sum() would overflow under ANSI mode
      val r = e.select(xxhash64(col("hi"), col("lo")).as("h"))
        .agg(count(lit(1)).as("n"), coalesce(expr("bit_xor(h)"), lit(0L)).as("x")).head()
      (r.getLong(0), r.getLong(1))
    }
    var state = checksum(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star: m(u) = min({u} ∪ Γ(u)); larger neighbors v > u attach to m
      val s1 = sym(edges)
      val mAll = s1.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val afterLarge = s1.filter(col("v") > col("u")).join(mAll, Seq("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
      // small-star on the large-star output (the paper's alternation):
      // m(u) = min({u} ∪ {v ∈ Γ(u): v < u}); those v and u attach to m
      val sm = sym(afterLarge).filter(col("v") < col("u"))
      val mSmall = sm.groupBy(col("u")).agg(min(col("v")).as("m")) // v < u => min < u
      edges = sm.join(mSmall, Seq("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .unionByName(mSmall.select(col("u").as("hi"), col("m").as("lo")))
        .filter(col("hi") =!= col("lo")).distinct().localCheckpoint()
      val next = checksum(edges)
      converged = next == state
      state = next
      iter += 1
    }
    require(converged, s"dupGroupsTwoPhase did not converge in $maxIter rounds")
    // star forest: every member points at its component min; roots label themselves
    val nodes = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id"))).distinct()
    nodes.join(edges.select(col("hi").as("id"), col("lo").as("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("group_id"))
  }

  /** 64-bit SimHash signature per document — native single-pass expression
    * (graft.functions.SimHash64); bit votes use the same xxhash64(token)
    * values as the composable explode + 64-aggregate formulation. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.TextExpressions.register(docs.sparkSession)
    docs.select(col(idCol).as("id"),
      graft.functions.TextExpressions.simhash64(col(textCol)).as("simhash"))
  }

  /** Composable SimHash — the definitional formulation of [[SimHash64]]:
    * explode tokens, xxhash64 each, 64 per-bit +1/-1 vote aggregates, sign →
    * bit. Dual-formulation gate for the native path; docs with zero tokens
    * get the native empty signature (0L) via the left join. */
  private def simhashComposable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs
      .select(col(idCol).as("id"), explode(TextFunctions.tokens(col(textCol))).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val votes = (0 until 64).map(j =>
      sum(when(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"v$j"))
    val sigs = tok.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until 64).map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("simhash"))
    docs.select(col(idCol).as("id")).join(sigs, Seq("id"), "left")
      .select(col("id"), coalesce(col("simhash"), lit(0L)).as("simhash"))
  }

  /** SimHash near-dup pairs: the 64-bit signature is split into
    * (maxHamming + 1) chunks, so by pigeonhole any pair within maxHamming
    * shares at least one chunk intact — candidate recall is guaranteed for
    * the requested radius, then verified by popcount of xor.
    *
    * @param composableSig use the definitional 64-aggregate signature instead
    *   of the native one-pass expression (dual-formulation gate; slower). */
  def simhashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3, composableSig: Boolean = false): DataFrame = {
    val sig =
      if (composableSig) simhashComposable(docs, idCol, textCol)
      else simhash(docs, idCol, textCol)
    simhashNearDupFromSigs(sig, maxHamming)
  }

  /** Chunk-band + popcount-verify over PRECOMPUTED signatures (`id`,
    * `simhash`) — split out so q34 can stage the signatures as parquet and
    * have the DuckDB oracle replay this entire stage (band join, xor,
    * bit_count, radius filter) independently: everything but the hash
    * function itself is then hash-gated. */
  def simhashNearDupFromSigs(sig: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 63]")
    val nChunks = maxHamming + 1
    // chunk k covers bits [offsets(k), offsets(k+1)); widths differ by <=1 bit
    val offsets = (0 to nChunks).map(k => k * 64 / nChunks)
    val chunked = sig.select(col("id"), col("simhash"),
      posexplode(array((0 until nChunks).map { k =>
        val width = offsets(k + 1) - offsets(k)
        val mask = if (width == 64) -1L else (1L << width) - 1L
        shiftrightunsigned(col("simhash"), offsets(k)).bitwiseAND(lit(mask))
      }: _*)).as(Seq("chunk_id", "chunk")))
    chunked.toDF("id_a", "sim_a", "chunk_id", "chunk")
      .join(chunked.toDF("id_b", "sim_b", "chunk_id", "chunk"), Seq("chunk_id", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
