package graft.ops

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Training-data curation operators over a `documents(doc_id, text, ...)`
 * table — the large-scale text-pipeline extension of the engine
 * (deduplication, quality scoring, language id, fingerprinting).
 *
 * Scale posture: every operator below is a narrow map or a single
 * well-keyed shuffle. Near-dup detection never does an O(n²) cross join —
 * candidates come from LSH band buckets (MinHash) or simhash chunks
 * (bit-sampling), then exact verification runs only within buckets.
 */
object TextOps {

  // ---- text analysis (SQL-mirrorable: integer/boolean outputs only, so
  // the DuckDB oracle compares exactly — no float-rounding hazards) ------

  // All token operators are SINGLE-PASS NATIVE expressions
  // ([[graft.functions.TextStats]]): the former HOF compositions
  // (size(filter(split(...))), aggregate(...)) are CodegenFallback in
  // Spark — an interpreted per-element lambda walk plus a materialized
  // token array per document per expression — and the quality+language
  // gate stack dominated the curation funnel's first job (round-6 probe:
  // ~2.5 s per corpus pass vs ~0.12 s for the scan). Token semantics are
  // unchanged (Java-regex \s runs; exact oracle parity).

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = token_count(text)

  /** A BPE-ish subword proxy: count of character 4-grams per token summed,
    * i.e. ceil(len/4) per token with len in code points — integer
    * arithmetic only. */
  def bpeishTokenCount(text: Column): Column = bpeish_token_count(text)

  /** Stopword hit count for a language's stopword list (exact token
    * matches). */
  def stopwordCount(text: Column, stopwords: Seq[String]): Column =
    stopword_count(text, stopwords)

  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "est", "un", "une"),
    "es" -> Seq("el", "la", "y", "es", "un", "una"))

  /** N-gram-heuristic language id: argmax of per-language stopword hits,
    * ties broken by list order, "und" (undetermined) when all zero —
    * one tokenization pass for ALL language lists (the former fold of
    * when-chains re-embedded every count subtree per comparison). NULL
    * text gives NULL, not "und": the expression is null-intolerant, like
    * Spark's own string functions; "" gives "und". */
  def langId(text: Column): Column = lang_id(text, langStopwords)

  /** Quality signals, all integers/booleans: char count, token count,
    * max token length, stopword hits; `quality_ok` = document passes the
    * cheap heuristics used in web-scale corpus filtering. */
  def qualitySignals(df: DataFrame, text: Column): DataFrame = {
    val toks = tokenCount(text)
    df.withColumn("n_chars_m", length(text))
      .withColumn("n_tokens", toks)
      .withColumn("n_stopwords", stopwordCount(text, langStopwords.flatMap(_._2)))
      .withColumn("quality_ok",
        length(text).between(20, 100000) &&
          toks.between(5, 20000) &&
          stopwordCount(text, langStopwords.flatMap(_._2)) >= 1)
  }

  /** Corpus vocabulary: term → document frequency + total occurrences over
    * whitespace tokens. One explode + one aggregation; the classic
    * vocabulary/BPE-seed pass of a training-data pipeline. */
  def vocabulary(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens_of(col(textCol))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("occurrences"))

  /** Deterministic text normalization: lowercase, collapse all whitespace
    * runs to single spaces, trim — the canonicalization step before exact
    * dedup so trivially-reformatted copies hash identically. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Gap-based sessionization: a new session starts when the gap since the
    * user's previous event exceeds `gapSeconds`. One exchange on the user
    * key (high-cardinality → full parallelism); session ids are the running
    * count of gap-breaks per user — deterministic under the (ts, tieBreak)
    * total order. The standard conversation/session assembly step of a
    * training-data pipeline. */
  def sessionize(df: DataFrame, userCol: String, tsCol: String,
      tieBreak: String, gapSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol).asc, col(tieBreak).asc)
    val prev = lag(unix_timestamp(col(tsCol)), 1).over(w)
    val isNew = when(prev.isNull || unix_timestamp(col(tsCol)) - prev > gapSeconds, 1)
      .otherwise(0)
    df.withColumn("session_id",
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("int"))
  }

  // ---- deduplication ---------------------------------------------------

  /** Exact dedup: keep the smallest id per identical text. The shuffle KEY
    * is a 128-bit content hash (two independently-seeded xxhash64s), so
    * grouping never compares or hashes the full text on the exchange path;
    * the winning (id, text) row rides as the aggregation value, and
    * map-side partial `min_by` collapses local duplicates so each distinct
    * text crosses the wire once — the minimum any plan that outputs the
    * text can move. 128-bit keying makes a false merge astronomically
    * unlikely (~10^-19 at 10^10 docs — the standard content-hash dedup
    * contract; collisions would drop one distinct text). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(
        xxhash64(col(textCol)).as("_h1"),
        xxhash64(col(textCol), lit(0x9e3779b9L)).as("_h2"))
      .agg(min_by(struct(col(idCol), col(textCol)), col(idCol)).as("_r"))
      .select(col(s"_r.$idCol").as(idCol), col(s"_r.$textCol").as(textCol))

  /** In-bucket pair expansion shared by the near-dup candidate generators:
    * group the exploded (bucket-key..., member) stream ONCE per bucket,
    * sort the member list (determinism + ascending pair order), drop
    * oversized buckets (mega-bucket guard: a bucket holding m
    * near-identical docs yields O(m²) pairs — a planted cluster of 10^5
    * exact duplicates would explode any pairing strategy; their members
    * are exact-dup-shaped work for [[exactDedup]]; `cap <= 0` disables),
    * then emit all ordered pairs via posexplode + slice — no giant
    * pair array is ever materialized per bucket row.
    *
    * This replaces the former band SELF-JOIN, which re-executed the
    * banding expression (the dominant per-row cost: minhash = shingles ×
    * bands × rows hash evaluations) once per join side — and a third time
    * in the guard's count pass. One aggregation keyed exactly like the
    * old join computes the bands ONCE, integrates the guard for free, and
    * shuffles only (bucket-key, member) — at cluster scale it also
    * removes the broadcast of the full banded stream that the self-join
    * needed. Output: one `_pair` struct column of the two members, each
    * ordered pair exactly once (ascending by the struct order). */
  private[ops] def bucketPairs(banded: DataFrame, groupCols: Seq[String],
      memberCol: Column, cap: Int): DataFrame = {
    val sizeOk =
      if (cap <= 0) size(col("_ms")) >= 2
      else size(col("_ms")).between(2, cap)
    banded
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(memberCol)).as("_ms"))
      .filter(sizeOk)
      .select(posexplode(col("_ms")).as(Seq("_i", "_a")), col("_ms"))
      // members after position _i (0-based) = 1-based slice from _i + 2;
      // length size(_ms) over-asks and slice clamps to the tail
      .select(col("_a"),
        explode(slice(col("_ms"), col("_i") + lit(2), size(col("_ms")))).as("_b"))
      .select(struct(col("_a"), col("_b")).as("_pair"))
  }

  /** MinHash-LSH near-dup candidate pairs: signature → `bands` bands of
    * `rows` hashes → explode → per-(band, bucket) pair expansion →
    * distinct pairs. Returns (id_a, id_b) with id_a < id_b. Buckets larger
    * than `maxBucketSize` are skipped (see [[bucketPairs]]). */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, bands: Int = 16, rowsPerBand: Int = 8,
      seed: Long = 42L, maxBucketSize: Int = 2000): DataFrame = {
    // band buckets computed in one native pass (no n-long signature array
    // materialized per row, no HOF slice+hash chain) — and only ONCE:
    // pair expansion happens inside the bucket aggregation, so the band
    // expression is never re-executed for a second join side
    val banded0 = df.select(col(idCol).as("id"), posexplode(
        minhash_bands(col(textCol), shingleK, bands, rowsPerBand, seed)))
      .toDF("id", "band", "bucket")
    bucketPairs(banded0, Seq("band", "bucket"), col("id"), maxBucketSize)
      .select(col("_pair._a").as("id_a"), col("_pair._b").as("id_b"))
      .distinct()
  }

  /** Near-dup pairs with exact n-gram Jaccard verification of the LSH
    * candidates (shingle-hash set intersection / union). Recall is governed
    * by the band shape: P(candidate at similarity s) = 1-(1-s^r)^b — e.g.
    * the default 16×8 catches s≥0.9 with P≈1 but s=0.7 only with P≈0.6;
    * callers needing (near-)exhaustive recall at a threshold t should pick
    * r,b with 1-(1-t^r)^b ≈ 1 (e.g. 64 bands × 3 rows for t=0.7) AND pass
    * maxBucketSize=0 — the mega-bucket guard drops pairs inside oversized
    * buckets (see [[dropMegaBuckets]]). */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleK: Int = 5,
      bands: Int = 16, rowsPerBand: Int = 8, seed: Long = 42L,
      maxBucketSize: Int = 2000): DataFrame = {
    val cands = minhashCandidates(df, idCol, textCol, shingleK, bands, rowsPerBand,
      seed, maxBucketSize)
    val sh = df.select(col(idCol).as("id"),
      shingle_hashes(col(textCol), shingleK, seed).as("sh"))
    // shingle arrays come out of shingle_hashes sorted+distinct: a merge
    // scan computes |∩| without array_intersect's per-row hash set, and
    // |∪| = |a|+|b|-|∩| avoids materializing the union array entirely
    cands
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("inter", sorted_intersect_count(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** SimHash near-dup pairs with pigeonhole-guaranteed recall: the 64-bit
    * simhash is split into `maxDist + 1` disjoint chunks, so any two hashes
    * within hamming distance maxDist must agree on at least one whole chunk
    * (pigeonhole — maxDist differing bits cannot touch every one of
    * maxDist+1 chunks). Docs sharing any chunk are candidates; exact
    * hamming distance verifies. The result is EXACTLY the set of pairs with
    * hamming(simhash) ≤ maxDist — PROVIDED no chunk bucket exceeds
    * `maxBucketSize`: oversized buckets are dropped (mega-cluster guard;
    * their members are exact-dup-shaped work for [[exactDedup]]), which
    * loses the pairs inside them. Pass `maxBucketSize = 0` to disable the
    * guard when the unconditional exactness contract matters more than
    * blowup protection (the driver-oracled query path does). */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, seed: Long = 42L, maxBucketSize: Int = 2000): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, "maxDist must be in [0, 63]")
    val nChunks = maxDist + 1
    val baseW = 64 / nChunks
    val extra = 64 % nChunks // first `extra` chunks get one more bit
    val offsets = (0 until nChunks).scanLeft(0)((o, i) =>
      o + baseW + (if (i < extra) 1 else 0))
    val chunkCols = (0 until nChunks).map { i =>
      val w = baseW + (if (i < extra) 1 else 0)
      val mask = if (w >= 64) -1L else (1L << w) - 1L
      shiftrightunsigned(col("sh"), offsets(i)).bitwiseAND(lit(mask))
    }
    val sh = df.select(col(idCol).as("id"), simhash64(col(textCol), seed).as("sh"))
    val chunked0 = sh.select(col("id"), col("sh"), posexplode(array(chunkCols: _*)))
      .toDF("id", "sh", "chunk", "chunkVal")
    // members carry (id, sh) so verification needs no join back; the
    // struct sorts by id first, so pair order is ascending by id
    bucketPairs(chunked0, Seq("chunk", "chunkVal"),
        struct(col("id"), col("sh")), maxBucketSize)
      .select(col("_pair._a.id").as("id_a"), col("_pair._b.id").as("id_b"),
        col("_pair._a.sh").as("sh_a"), col("_pair._b.sh").as("sh_b"))
      .distinct()
      .withColumn("dist", graft.functions.TextFunctions.hamming64(col("sh_a"), col("sh_b")))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }
}
