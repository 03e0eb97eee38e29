package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.ops.{Dedup, Similarity}

/** Training-data-pipeline operators (BASELINE.json north star): dedup,
  * similarity search, text analysis, multimodal — over the `documents` and
  * `embeddings` tables. Sketch/hash-based variants (minhash/simhash/IVF/
  * fingerprint/langid) have no DuckDB oracle (driver rows-only check); their
  * correctness is cross-checked in OpsSpec against the exact operators.
  */
object NorthStarQueries {

  /** The parquet stage through which an oracle-gated sketch query (q33, q34,
    * q39, q56) hands its Spark-side intermediate to its DuckDB replay. The
    * path is keyed by the DATA DIR, so runs at different scale factors never
    * race on it, and [[write]] records it in the sys prop `graft.<query>.stage`,
    * so the oracle (dumped by Verify AFTER the query ran, same JVM) names
    * exactly the stage this run wrote: a stale or clobbered stage cannot be
    * silently verified. With no run in this JVM the oracle reads sf0.01's. */
  private[graft] final class OracleStage(query: String, what: String) {
    private val prop = s"graft.$query.stage"

    def path(dir: String): String =
      s"/tmp/graft_oracle_stage/${query}_${what}_" +
        dir.replaceAll("[^A-Za-z0-9]+", "_") + ".parquet"

    /** Stage `df` for data dir `dir` and read it back. */
    def write(df: DataFrame, dir: String): DataFrame = {
      val stage = path(dir)
      sys.props(prop) = stage
      df.write.mode("overwrite").parquet(stage)
      df.sparkSession.read.parquet(stage)
    }

    def oraclePath: String = sys.props.getOrElse(prop, path("/root/testdata/sf0.01"))
  }

  /** Exact dedup verdict per document: keep_id = min doc_id sharing the same
    * content; is_dup marks members of multi-doc groups (non-representative). */
  def q31DedupExact(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    // shuffle on the 256-bit content hash, never on the raw text — at 100 TB
    // a text-keyed exchange would move the whole corpus as shuffle keys.
    // contentKey is null-safe: the oracle's PARTITION BY text groups NULLs
    // together, while sha2(NULL)=NULL would silently drop them at the join.
    val hashed = d.select(col("doc_id"), Dedup.contentKey(col("text")).as("content_sha"))
    val groups = hashed.groupBy(col("content_sha"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    hashed.join(groups, Seq("content_sha"))
      .select(col("doc_id"), col("keep_id"),
        (col("n_copies") > 1 && col("doc_id") =!= col("keep_id")).cast("int").as("is_dup"))
  }

  val q31Oracle: String =
    """SELECT doc_id,
      |  MIN(doc_id) OVER (PARTITION BY text) AS keep_id,
      |  CAST(COUNT(*) OVER (PARTITION BY text) > 1
      |       AND doc_id <> MIN(doc_id) OVER (PARTITION BY text) AS INT) AS is_dup
      |FROM documents""".stripMargin

  /** Exact 3-gram Jaccard near-dup pairs (inverted-index join). */
  def q32NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(Tables(spark, dir, "documents"), "doc_id", "text",
      shingleSize = 3, threshold = 0.5)

  val q32Oracle: String =
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |w AS (
      |  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
      |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) g
      |  WHERE ws[i] <> '' AND ws[i+1] <> '' AND ws[i+2] <> ''),
      |s AS (SELECT DISTINCT doc_id, sh FROM w),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY 1),
      |shared AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ns
      |  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT id_a, id_b, ROUND(ns::DOUBLE / (x.n + y.n - ns), 6) AS jaccard
      |FROM shared JOIN sizes x ON id_a = x.doc_id JOIN sizes y ON id_b = y.doc_id
      |WHERE ns::DOUBLE / (x.n + y.n - ns) >= 0.5""".stripMargin

  /** Dup-GROUP closure over the exact near-dup pairs: connected components
    * of the q32 similarity graph via iterative min-label propagation
    * (Dedup.dupGroups), each doc labeled with its component's min doc_id —
    * the keep/drop decision unit of a real dedup pipeline. Oracle: DuckDB
    * WITH RECURSIVE transitive closure over the identical pair list. */
  def q75DupGroups(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccard(Tables(spark, dir, "documents"), "doc_id", "text",
      shingleSize = 3, threshold = 0.5)
    Dedup.dupGroups(pairs)
      .select(col("id").as("doc_id"), col("group_id"))
  }

  val q75Oracle: String =
    """WITH RECURSIVE
      |t AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |w AS (
      |  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
      |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) g
      |  WHERE ws[i] <> '' AND ws[i+1] <> '' AND ws[i+2] <> ''),
      |s AS (SELECT DISTINCT doc_id, sh FROM w),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY 1),
      |shared AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ns
      |  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS (
      |  SELECT id_a, id_b
      |  FROM shared JOIN sizes x ON id_a = x.doc_id JOIN sizes y ON id_b = y.doc_id
      |  WHERE ns::DOUBLE / (x.n + y.n - ns) >= 0.5),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |walk AS (
      |  SELECT src AS id, src AS reach FROM edges
      |  UNION
      |  SELECT wk.id, e.dst FROM walk wk JOIN edges e ON wk.reach = e.src)
      |SELECT id AS doc_id, MIN(reach) AS group_id FROM walk GROUP BY id""".stripMargin

  /** MinHash+LSH near-dup pairs, ORACLE-GATED like q34: Spark's minhash
    * signatures are staged as parquet (per-data-dir path) and [[q33Oracle]]
    * replays the whole downstream stage in DuckDB — band-slice self-join
    * (list equality replaces the xxhash64 band key: same partition modulo
    * 64-bit collisions), the >maxBucketSize skew cap, candidate dedup, and
    * the exact-Jaccard verification recomputed from raw text. Only the
    * signature hash itself stays un-oracled (it keeps the dual-formulation
    * gate: AltFormulations runs the composable aggregate signature). */
  private[graft] val q33Stage = new OracleStage("q33", "minhash")

  def q33MinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    graft.functions.TextExpressions.register(spark)
    val sig = docs.select(col("doc_id").as("id"),
      graft.functions.TextExpressions.minhashSig(col("text"), 3, 32).as("sig"))
    Dedup.minhashLshFromSigs(docs, q33Stage.write(sig, dir), "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.5)
  }

  /** DuckDB replay of banding + verify over the STAGED signatures. Bands =
    * 8 slices of 4 (1-based list slice [b*4+1 : b*4+4]); the bucket-size cap
    * groups by the slice values; verification recomputes exact Jaccard from
    * raw text with the q32 oracle's shingle CTEs. */
  def q33Oracle: String = {
    val stage = q33Stage.oraclePath
    s"""WITH sig AS (
      |  SELECT s.id, s.sig
      |  FROM read_parquet('$stage/*.parquet') AS s
      |  JOIN documents AS d ON s.id = d.doc_id),
      |bands AS (
      |  SELECT sig.id, bn.b AS band_id, sig.sig[bn.b*4+1 : bn.b*4+4] AS bk
      |  FROM sig, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS bn(b)),
      |safe AS (
      |  SELECT band_id, bk FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 1000),
      |sb AS (SELECT bands.* FROM bands JOIN safe USING (band_id, bk)),
      |cand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM sb AS a JOIN sb AS b
      |    ON a.band_id = b.band_id AND a.bk = b.bk AND a.id < b.id),
      |t AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
      |w AS (
      |  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
      |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) g
      |  WHERE ws[i] <> '' AND ws[i+1] <> '' AND ws[i+2] <> ''),
      |s2 AS (SELECT DISTINCT doc_id, sh FROM w),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM s2 GROUP BY 1),
      |shared AS (
      |  SELECT c.id_a, c.id_b, COUNT(*) AS ns
      |  FROM cand AS c
      |  JOIN s2 AS a ON a.doc_id = c.id_a
      |  JOIN s2 AS b ON b.doc_id = c.id_b AND b.sh = a.sh
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, ROUND(ns::DOUBLE / (x.n + y.n - ns), 6) AS jaccard
      |FROM shared JOIN sizes AS x ON id_a = x.doc_id JOIN sizes AS y ON id_b = y.doc_id
      |WHERE ns::DOUBLE / (x.n + y.n - ns) >= 0.5""".stripMargin
  }

  /** SimHash chunk-banded near-dup pairs, ORACLE-GATED: the Spark-side
    * signatures are staged as parquet and [[q34Oracle]] replays the whole
    * band→join→xor→popcount→radius stage in DuckDB over them — everything
    * but the signature hash itself is hash-compared (see [[OracleStage]]). */
  private[graft] val q34Stage = new OracleStage("q34", "simhash")

  def q34SimhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    val sig = Dedup.simhash(Tables(spark, dir, "documents"), "doc_id", "text")
    Dedup.simhashNearDupFromSigs(q34Stage.write(sig, dir), maxHamming = 6)
  }

  /** DuckDB replay of the banding from the STAGED Spark signatures. The
    * chunk extraction ((simhash >> o) & m) is shift-flavor-proof: the mask
    * never reaches the sign-extended bits, so DuckDB's arithmetic shift and
    * Spark's shiftrightunsigned agree. Offsets/masks = maxHamming 6 →
    * 7 chunks of widths 9×6+10 (k*64/7 boundaries). The documents join
    * additionally pins the id set. */
  def q34Oracle: String = {
    val stage = q34Stage.oraclePath
    s"""WITH sig AS (
      |  SELECT s.id, s.simhash
      |  FROM read_parquet('$stage/*.parquet') AS s
      |  JOIN documents AS d ON s.id = d.doc_id),
      |chunks AS (
      |  SELECT sig.id, sig.simhash, c.k AS chunk_id,
      |    ((sig.simhash >> c.o) & c.m) AS chunk
      |  FROM sig, (VALUES (0, 0, 511), (1, 9, 511), (2, 18, 511), (3, 27, 511),
      |                    (4, 36, 511), (5, 45, 511), (6, 54, 1023)) AS c(k, o, m))
      |SELECT id_a, id_b, hamming FROM (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
      |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |  FROM chunks AS a
      |  JOIN chunks AS b ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.id < b.id)
      |WHERE hamming <= 6""".stripMargin
  }

  /** Text quality statistics: token/punct/stopword counts + composite score. */
  def q35TextStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.punctCount(col("text")).as("punct_cnt"),
      TextFunctions.stopwordCount(col("text")).as("stop_cnt"),
      TextFunctions.qualityScore(col("text"), col("n_chars")).as("quality"))
  }

  val q35Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, text, n_chars,
      |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(ws) AS INT) AS n_tokens,
      |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT) AS punct_cnt,
      |  CAST(len(list_filter(ws, w -> list_contains(
      |    ['the','a','of','and','to','in','is','for','on','with'], w))) AS INT) AS stop_cnt,
      |  ROUND(0.5 * least(n_chars / 500.0, 1.0)
      |    + 0.4 * least(len(list_filter(ws, w -> list_contains(
      |        ['the','a','of','and','to','in','is','for','on','with'], w)))::DOUBLE
      |        / greatest(len(ws)::DOUBLE, 1.0) * 3.0, 1.0)
      |    + 0.1 * (1.0 - least((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
      |        / greatest(length(text)::DOUBLE, 1.0) * 10.0, 1.0)), 6) AS quality
      |FROM t""".stripMargin

  /** Language-ID heuristic + per-language aggregates. Oracle-gated: the
    * heuristic is deterministic (stopword-hit argmax, alphabetical
    * tie-break, CJK override) so DuckDB can replay it exactly — the argmax
    * + earlier-name tie-break becomes a cascading `>=` CASE over the four
    * per-language hit counts, and the BPE-ish subword count (alternating
    * ASCII-alnum / non-alnum runs, space-only runs dropped) becomes two
    * regexp_extract_all run counts. */
  def q36LangProfile(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.register(spark)
    val d = Tables(spark, dir, "documents")
    d.select(graft.functions.TextExpressions.langId(col("text")).as("lang_pred"),
        col("lang").as("lang_label"),
        TextFunctions.subwordCount(col("text")).as("n_subwords"))
      .groupBy(col("lang_pred"), col("lang_label"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_subwords")).as("total_subwords"))
  }

  val q36Oracle: String =
    """WITH t AS (
      |  SELECT lang AS lang_label, text,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> '') AS ws
      |  FROM documents),
      |s AS (
      |  SELECT lang_label, text,
      |    len(list_filter(ws, w -> list_contains(
      |      ['der','die','das','und','ist','mit','für','auf','ein','zu'], w))) AS s_de,
      |    len(list_filter(ws, w -> list_contains(
      |      ['the','a','of','and','to','in','is','for','on','with'], w))) AS s_en,
      |    len(list_filter(ws, w -> list_contains(
      |      ['el','los','las','y','es','para','en','un','una','con'], w))) AS s_es,
      |    len(list_filter(ws, w -> list_contains(
      |      ['le','la','les','et','est','pour','dans','un','une','sur'], w))) AS s_fr,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
      |       + len(list_filter(regexp_extract_all(lower(text), '[^a-z0-9]+'),
      |             x -> regexp_matches(x, '[^ ]'))) AS INT) AS n_subwords
      |  FROM t),
      |p AS (
      |  SELECT lang_label, n_subwords,
      |    CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
      |         WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
      |         WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
      |         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
      |         WHEN s_es >= s_fr THEN 'es'
      |         ELSE 'fr' END AS lang_pred
      |  FROM s)
      |SELECT lang_pred, lang_label,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_subwords) AS BIGINT) AS total_subwords
      |FROM p GROUP BY 1, 2""".stripMargin

  /** Order-sensitive fingerprint dedup, oracle-gated: grouping documents by
    * the 64-bit rolling-xxhash fingerprint is equivalent to grouping by the
    * normalized token sequence (lowercase, \s+ split, empties dropped) —
    * which DuckDB CAN compute — modulo hash collisions (odds ~n²/2⁶⁴). The
    * output carries per-doc group verdicts instead of raw hashes so the
    * oracle comparison is sketch-free; the native Fingerprint64 ≡ composable
    * chain equivalence is separately asserted in NorthStarSpec. */
  def q37Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.register(spark)
    val d = Tables(spark, dir, "documents")
    val fp = d.select(col("doc_id"),
      graft.functions.TextExpressions.fingerprint64(col("text")).as("fp"))
    val groups = fp.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
    fp.join(groups, Seq("fp")).select(col("doc_id"), col("keep_id"), col("n_docs"))
  }

  val q37Oracle: String =
    """WITH n AS (
      |  SELECT doc_id,
      |    array_to_string(list_filter(string_split_regex(lower(text), '\s+'),
      |      w -> w <> ''), ' ') AS norm
      |  FROM documents)
      |SELECT doc_id, MIN(doc_id) OVER (PARTITION BY norm) AS keep_id,
      |  COUNT(*) OVER (PARTITION BY norm) AS n_docs
      |FROM n""".stripMargin

  /** Brute-force exact cosine top-5 for query vectors vec_id < 10. */
  def q38AnnBruteTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 5)
  }

  val q38Oracle: String =
    """SELECT q.vec_id AS query_id,
      |  CAST(row_number() OVER (PARTITION BY q.vec_id
      |    ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
      |             c.vec_id) AS INT) AS rank,
      |  c.vec_id AS neighbor_id,
      |  ROUND(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine_sim
      |FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |WHERE q.vec_id < 10
      |QUALIFY rank <= 5""".stripMargin

  /** IVF ANN: 16 coarse cells refined by Lloyd-to-convergence k-means over a
    * bounded uniform sample (the FAISS index-build convention — constant-size
    * training work at any corpus scale), 2 probes. ORACLE-GATED like
    * q33/q34/q56: the trained CENTROIDS are staged (per-data-dir path) and
    * [[q39Oracle]] replays the entire index USE in DuckDB — nearest-cell
    * assignment (ties to the lowest centroid id, exactly nearestCents'
    * sort), 2-probe query assignment, cell-join scoring, and the
    * (cos DESC, neighbor_id) top-k — so only the k-means TRAINING stays
    * un-oracled (it keeps the composable-dot dual gate + recall floors). */
  private[graft] val q39Stage = new OracleStage("q39", "centroids")

  def q39AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val cents = Similarity.kmeansOnSample(e,
      e.filter(col("vec_id") % 31 === 0).limit(16), sampleSize = 1024, iters = 25)
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 10),
      q39Stage.write(cents, dir), k = 5, nProbe = 2)
  }

  /** MARGIN ASSUMPTION: this replay recomputes cosines with DuckDB's
    * `list_cosine_similarity` while Spark used VecDot's left-to-right
    * folds — hash-exactness therefore requires every assignment/probe/rank
    * tie boundary (and every ROUND(,6) half-way boundary) to sit far above
    * ~1e-13 cross-engine float noise. That assumption is MACHINE-CHECKED:
    * AnnMarginSpec measures all four minimum gaps on the sf0.01 data and
    * fails below 1e-9, so a testdata regeneration that created a near-tie
    * turns up as a named spec failure, not an oracle flake. */
  def q39Oracle: String = {
    val stage = q39Stage.oraclePath
    s"""WITH cents AS (
      |  SELECT vec_id AS cent_id, embedding AS cv
      |  FROM read_parquet('$stage/*.parquet')),
      |corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |qs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10),
      |corp_assign AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT c.vec_id, k.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
      |        ORDER BY list_cosine_similarity(c.v, k.cv) DESC, k.cent_id) AS rn
      |    FROM corpus AS c CROSS JOIN cents AS k)
      |  WHERE rn = 1),
      |q_assign AS (
      |  SELECT vec_id, cent_id FROM (
      |    SELECT q.vec_id, k.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(q.v, k.cv) DESC, k.cent_id) AS rn
      |    FROM qs AS q CROSS JOIN cents AS k)
      |  WHERE rn <= 2),
      |scored AS (
      |  SELECT qa.vec_id AS query_id, ca.vec_id AS neighbor_id,
      |    MAX(list_cosine_similarity(q.v, c.v)) AS cos
      |  FROM q_assign AS qa
      |  JOIN corp_assign AS ca ON qa.cent_id = ca.cent_id
      |  JOIN qs AS q ON q.vec_id = qa.vec_id
      |  JOIN corpus AS c ON c.vec_id = ca.vec_id
      |  WHERE qa.vec_id <> ca.vec_id
      |  GROUP BY 1, 2)
      |SELECT query_id, rank, neighbor_id, ROUND(cos, 6) AS cosine_sim
      |FROM (
      |  SELECT query_id, neighbor_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM scored)
      |WHERE rank <= 5""".stripMargin
  }

  /** Exact embedding near-dup pairs at cosine >= 0.4. */
  def q40EmbedNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupExact(Tables(spark, dir, "embeddings"), 0.4)

  val q40Oracle: String =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine_sim
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4""".stripMargin

  /** Sign-bucket (random-hyperplane) LSH near-dup — the 100TB path whose
    * candidates come from an equi-join on the sign pattern; always a subset
    * of the exact pairs (spec-checked). ORACLE-GATED like q33/q34: Spark's
    * sign buckets are staged (per-data-dir path) and [[q56Oracle]] replays
    * the bucket self-join, pair dedup, and cosine verify in DuckDB — only
    * the hyperplane projection stays un-oracled (composable-dot dual gate). */
  private[graft] val q56Stage = new OracleStage("q56", "signbuckets")

  def q56AnnLshNearDup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val sigs = Similarity.signBuckets(e, nBits = 4, tables = 8)
    Similarity.signBucketNearDupFromBuckets(e, q56Stage.write(sigs, dir), 0.35)
  }

  def q56Oracle: String = {
    val stage = q56Stage.oraclePath
    s"""WITH bk AS (
      |  SELECT s.id, s.t, s.b
      |  FROM read_parquet('$stage/*.parquet') AS s
      |  JOIN embeddings AS e ON s.id = e.vec_id),
      |cand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM bk AS a JOIN bk AS b ON a.t = b.t AND a.b = b.b AND a.id < b.id)
      |SELECT c.id_a, c.id_b,
      |  ROUND(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 6) AS cosine_sim
      |FROM cand AS c
      |JOIN embeddings AS x ON c.id_a = x.vec_id
      |JOIN embeddings AS y ON c.id_b = y.vec_id
      |WHERE list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) >= 0.35""".stripMargin
  }

  /** Multimodal plumbing: pack text→binary media, stub-decode features,
    * frame-sample, aggregate per source. Decode is a deterministic fake
    * (see Multimodal scaladoc); byte/frame accounting is real. */
  def q41Multimodal(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.packFromText(Tables(spark, dir, "documents"), "doc_id", "text")
    val feats = Multimodal.decodeFeatures(media)
    val frames = Multimodal.frameSample(media, everyN = 1)
      .groupBy(col("source")).agg(count(lit(1)).as("total_frames"))
    feats.groupBy(col("source"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("first_byte")).as("sum_first_byte"))
      .join(frames, Seq("source"))
  }

  val q41Oracle: String =
    """SELECT source, COUNT(*) AS n_media,
      |  CAST(SUM(length(text)) AS BIGINT) AS total_bytes,
      |  CAST(SUM(ascii(substring(text, 1, 1))) AS BIGINT) AS sum_first_byte,
      |  CAST(SUM(doc_id % 30 + 1) AS BIGINT) AS total_frames
      |FROM documents GROUP BY 1""".stripMargin

  /** Deterministic 80/10/10 train/val/test split over the corpus
    * ([[graft.ops.Sampling]]): a narrow, shuffle-free projection whose
    * membership is a pure function of doc_id — reproducible across re-runs,
    * engines, and cluster layouts, which `rand()`-based splits are not. The
    * DuckDB oracle recomputes the same md5-prefix buckets, proving the
    * portability claim bit-for-bit. */
  def q77TrainSplit(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.hashSplit(
      Tables(spark, dir, "documents").select(col("doc_id")), "doc_id",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))

  val q77Oracle: String =
    """SELECT doc_id,
      |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
      |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents""".stripMargin
}
