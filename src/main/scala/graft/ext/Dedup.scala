package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Text

/** ⊕ Deduplication operators (SURVEY.md §2.4 A7 / north star): exact
  * dedup, and MinHash+LSH near-duplicate detection over text.
  *
  * Design for 100 TB:
  *  - Exact dedup is a hash-aggregate on the dedup key (one shuffle,
  *    map-side partial) — never a global sort.
  *  - Near-dup never compares all pairs. Each doc expands to
  *    `numBands` (band_idx, band_key) rows; candidate generation
  *    groups on the band key in ONE shuffle and expands in-bucket
  *    pairs ([[bucketPairs]] — fan-out bounded by bucket sizes), and
  *    only candidates get the exact verification.
  *  - All hashing is md5-based (deterministic, engine-portable): a
  *    MinHash only needs a random-ish total order per hash function,
  *    and the lexicographic min of `md5(seed || shingle)` hex strings
  *    is exactly that. This keeps the whole pipeline expressible as
  *    Catalyst expressions (codegen'd, no UDF) AND as ANSI SQL for the
  *    DuckDB oracle.
  */
object Dedup {

  /** Default skew/OOM backstop for [[bucketPairs]]-based candidate
    * generation: buckets larger than this are excluded from pair
    * expansion (see the bucketPairs scaladoc for why). 10k members =
    * ≤100M candidate pairs and a ~single-digit-MB collect_list row —
    * survivable; beyond it a bucket is degenerate input (empty-ish
    * docs, a hot segment) that belongs in exact dedup. Each oracle SQL
    * mirrors the cap with a bucket-count HAVING clause.
    */
  val DefaultMaxBucket: Int = 10000

  /** Exact dedup with deterministic min-wins survivor (the reference's
    * first-wins upsert `app.py:42,51` made distributed: `min_by` on an
    * explicit ordinal instead of arrival order).
    */
  def exactDedup(df: DataFrame, keys: Seq[Column], ordinal: Column): DataFrame =
    df.groupBy(keys: _*).agg(
      min(ordinal).as("kept_id"),
      count(lit(1)).as("n_dups"))

  /** Whitespace-tokenize after normalization. */
  def tokens(text: Column): Column = split(Text.cleanText(lower(text)), " ")

  /** Distinct k-word shingles of the cleaned lower-cased text — ONE
    * custom codegen expression ([[graft.functions.ShingleSet]]): the
    * tokenize→shift→zip→distinct chain under every near-dup query,
    * computed in a single pass per row instead of materializing the
    * token array plus k shifted slices plus k-1 zipped intermediates.
    * Byte-identical to [[shinglesComposed]] (equivalence
    * property-tested) and to the DuckDB oracle mirrors.
    */
  def shingles(text: Column, k: Int = 3): Column =
    graft.functions.ShingleSet.shingle_set(text, k)

  /** The composable built-in form [[graft.functions.ShingleSet]]
    * replicates — kept as the equivalence-test reference.
    *
    * Implementation note: built by `zip_with`-ing k shifted `slice`s of
    * the token array rather than `transform(sequence(...), i ->
    * element_at(w, i+o))` — in the latter, the (regex-heavy) token
    * expression sits INSIDE the lambda body and is re-evaluated per
    * element, turning an O(len) row into O(len²) regex work (measured
    * 15s → 0.3s on 5k docs). Here every token-array reference is
    * row-level, so tokenization runs a constant number of times per
    * row.
    */
  private[graft] def shinglesComposed(text: Column, k: Int = 3): Column = {
    val w = tokens(text)
    val n = size(w)
    // slice o (1-based start o+1) has length n-k+1 when n >= k
    val parts = (0 until k).map(o => slice(w, lit(o + 1), n - lit(k - 1)))
    val grams = parts.reduce((acc, p) => zip_with(acc, p, (a, b) => concat(a, lit(" "), b)))
    array_distinct(when(n >= k, grams).otherwise(array()))
  }

  /** One MinHash value: lexicographic min of `md5('<seed>|' || s)`
    * over the shingle set.
    */
  def minhash(shingleCol: Column, seed: Int): Column =
    array_min(transform(shingleCol, s => md5(concat(lit(s"$seed|"), s))))

  /** LSH band keys: hash of `rowsPerBand` consecutive minhashes.
    * numHashes/rowsPerBand bands; a pair collides iff equal on ALL
    * hashes of some band. Takes a precomputed signature column
    * ([[graft.functions.MinHashSig]] — one pass over the shingles
    * instead of one per seed).
    */
  def bandKeys(sigCol: Column, numHashes: Int, rowsPerBand: Int): Column = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val bands = (0 until numHashes / rowsPerBand).map { b =>
      val hs = (0 until rowsPerBand).map(r => sigCol.getItem(b * rowsPerBand + r))
      struct(lit(b).as("band_idx"), md5(concat(hs: _*)).as("band_key"))
    }
    array(bands: _*)
  }

  /** Exact Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter).cast("double")
  }

  /** Single-scan bucketed candidate-pair generation shared by the
    * near-dup pipelines: group the bucketed rows on the bucket key,
    * collect the (id, payload) members, and expand in-bucket pairs
    * (id_a < id_b) with two explodes.
    *
    * Why not a self-equi-join on the bucket key: the two join sides are
    * the same expensive subtree (tokenize → shingle → signature) under
    * different aliases, and in practice neither ReuseExchange nor scan
    * dedup fires for them — the chain is scanned AND evaluated twice
    * (measured ~2× the whole query cost at sf0.1). Grouping evaluates
    * it once and shuffles once; the in-bucket pair fan-out is identical
    * to the join's.
    *
    * Scale note: one bucket becomes one `collect_list` row, so bucket
    * sizes must stay bounded — which is exactly the LSH design contract
    * (bands/segments spread near-uniformly). Degenerate keys (e.g. the
    * empty document) must be filtered by the caller BEFORE this point.
    * `maxBucket` is the backstop for keys that slip through: buckets
    * above it are EXCLUDED from pair generation (a degenerate bucket
    * of b members contributes b² pairs of near-identical rows — at
    * 100 TB that is both an OOM on the collect_list row and a
    * quadratic blowup; such rows belong in exact dedup instead).
    * Every public entry point defaults `maxBucket` to
    * [[Dedup.DefaultMaxBucket]] (10000) and each oracle SQL mirrors
    * the cap with a bucket-count HAVING, so the backstop is part of
    * the checked semantics, not an unreachable option.
    */
  private[ext] def bucketPairs(bucketed: DataFrame, bucketCols: Seq[String],
                               member: Column,
                               maxBucket: Int = Int.MaxValue): DataFrame =
    bucketed
      .groupBy(bucketCols.map(col): _*)
      .agg(collect_list(member).as("ms"))
      .filter(size(col("ms")) > 1 && size(col("ms")) <= maxBucket)
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))

  /** ⊕ EXACT set-similarity self-join via prefix filtering — the
    * AllPairs/PPJoin family (Bayardo et al. 2007 "Scaling Up All
    * Pairs Similarity Search"; Xiao et al. 2008): the
    * completeness-GUARANTEED dual of [[nearDupPairs]]. MinHash-LSH
    * trades recall for cost (a true pair can miss every band); prefix
    * filtering never misses: order each document's shingle set by
    * ascending global frequency (rarest first), take the first
    * `|x| − ⌈t·|x|⌉ + 1` shingles as the PREFIX, and any pair with
    * Jaccard ≥ t provably shares a prefix shingle — so grouping on
    * prefix shingles + exact verify returns EXACTLY the ≥ t pair
    * set. The global frequency ordering is what makes it scale:
    * prefixes are the RAREST shingles, so candidate buckets stay
    * small on natural text.
    *
    * Plan: one shingle pass + one frequency aggregation (the global
    * order — a corpus-wide token join, the algorithm's one extra
    * exchange over LSH), per-doc re-sort, prefix explode, bucket
    * pairing, exact verify. Buckets above `maxBucket` are an ERROR,
    * not a skip ([[graft.ops.Interval]]'s `assert_true` stance):
    * silently capping would break the completeness guarantee this
    * operator exists for; a hot prefix shingle means the threshold
    * is too low for the corpus' redundancy.
    *
    * Returns (id_a, id_b, jaccard) — bit-equal to the NAIVE exact
    * all-pairs join, which is exactly what the q184 oracle replays.
    */
  def setSimJoinExact(df: DataFrame, id: Column, text: Column,
                      threshold: Double, shingleK: Int = 3, roundTo: Int = 4,
                      maxBucket: Int = DefaultMaxBucket): DataFrame =
    setSimJoinExactRaw(df, id, text, threshold, shingleK, maxBucket)
      .select(col("id_a"), col("id_b"), round(col("__j"), roundTo).as("jaccard"))

  /** [[setSimJoinExact]]'s verified pairs with the UNROUNDED exact
    * Jaccard (`id_a, id_b, __j`) — package-private for measurement
    * anchors that evaluate SEVERAL thresholds from one candidate
    * generation (q238's two operating points): the prefix-filter
    * completeness theorem makes `raw(t).filter(__j >= t')` for any
    * t' ≥ t exactly the pair set a fresh run at t' would produce
    * (t's longer prefix yields a candidate SUPERSET, `__j` is the
    * true Jaccard either way, and the verify predicate is the same
    * unrounded compare), so the expensive exact join runs once
    * instead of once per threshold.
    */
  private[graft] def setSimJoinExactRaw(df: DataFrame, id: Column, text: Column,
                      threshold: Double, shingleK: Int = 3,
                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    val sh = df.select(id.as("id"), shingles(text, shingleK).as("ts"))
      .filter(size(col("ts")) > 0)
    val freq = sh.select(explode(col("ts")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val sorted = sh.select(col("id"), explode(col("ts")).as("tok"))
      .join(freq, Seq("tok"))
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("cnt"), col("tok")))),
        s => s.getField("tok")).as("sts"))
    // required-overlap ceiling ⌈t·n⌉ in robust arithmetic: the raw
    // double product can land 1 ulp ABOVE an exactly-integral t·n
    // (e.g. t=0.7, n=30), which would push ceil one too high and cut
    // the prefix one token short — a silent completeness hole. round
    // at 9 decimals absorbs the ulp (product error ≤ ~1e-10 at any
    // realistic n) without moving any genuinely fractional value.
    val prefLen = (size(col("sts")) -
      ceil(round(lit(threshold) * size(col("sts")), 9)) + 1).cast("int")
    val pref = sorted.select(col("id"), col("sts"),
      explode(slice(col("sts"), lit(1), prefLen)).as("ptok"))
    val buckets = pref.groupBy(col("ptok"))
      .agg(collect_list(struct(col("id"), col("sts"))).as("ms"))
      .filter(size(col("ms")) > 1)
      // over-cap = loud failure: skipping would silently break the
      // completeness guarantee
      .filter(assert_true(size(col("ms")) <= maxBucket,
        concat(lit("setSimJoinExact: prefix bucket for shingle '"), col("ptok"),
          lit(s"' exceeds maxBucket=$maxBucket; completeness cannot survive a " +
            "skip — raise maxBucket or the threshold"))).isNull)
    val inter = size(array_intersect(col("a.sts"), col("b.sts"))).cast("double")
    buckets.select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (inter / (size(col("a.sts")) + size(col("b.sts")) - inter)).as("__j"))
      // verify on the UNROUNDED ratio: the prefix theorem guarantees a
      // shared prefix shingle only for TRUE J >= t — a rounded compare
      // would admit J in [t-5e-5, t) pairs the candidate generation
      // never promised to produce (and the FP-ceil prefix length is
      // provably never shorter than the true-J bound requires, so the
      // guarantee is airtight under this predicate)
      .filter(col("__j") >= threshold)
      .select(col("id_a"), col("id_b"), col("__j"))
      .distinct()
  }

  /** ⊕ SimHash near-dup pipeline: 64-bit signature per doc (custom
    * Catalyst expression, [[graft.functions.SimHash64]]), banded into
    * four 16-bit segments. By pigeonhole, any pair within Hamming
    * distance ≤ 3 agrees on at least one segment, so candidate
    * generation groups on (segment_idx, segment_value) — no all-pairs
    * compare — followed by an exact `bit_count(a^b)` verify (filtered
    * BEFORE the cross-segment dedup so the distinct only sees
    * near-pairs). Returns (id_a, id_b, hamming), id_a < id_b.
    */
  def simhashNearDup(df: DataFrame, id: Column, text: Column,
                     maxHamming: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame =
    hammingPairs64(df.select(id.as("id"),
        graft.functions.SimHash64.simhash64(shingles(text, 3)).as("sig")),
      maxHamming, maxBucket)

  /** ⊕ Edit-distance-verified near-dup pairs — the blocking+verify
    * shape fuzzy dedup runs at scale: [[simhashNearDup]]'s banding
    * with a LOOSE hamming gate (default 8 — recall-bounded
    * candidates, NOT pigeonhole-complete past 3; the trade is
    * explicit) feeds an exact Levenshtein verify over the cleaned
    * texts, keeping pairs within `maxDist` character edits. The
    * quadratic-per-pair DP runs ONLY on banded candidates, never
    * all-pairs; at 100 TB, prefer Spark's 3-arg bounded
    * `levenshtein(a, b, threshold)` (banded DP, early-exit) on the
    * hot path — the 2-arg form here keeps the expression tree
    * identical to the SQL oracle.
    */
  def editVerifiedPairs(df: DataFrame, id: Column, text: Column,
                        maxHamming: Int = 8, maxDist: Int = 40,
                        maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val clean = df.select(id.as("id"),
      graft.ops.Text.cleanText(lower(text)).as("__c"))
    simhashNearDup(df, id, text, maxHamming, maxBucket)
      .join(clean.select(col("id").as("id_a"), col("__c").as("__ca")), "id_a")
      .join(clean.select(col("id").as("id_b"), col("__c").as("__cb")), "id_b")
      .withColumn("edit_dist", levenshtein(col("__ca"), col("__cb")))
      .filter(col("edit_dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"), col("edit_dist"))
  }

  /** Token-sequence LCS length as a pure Catalyst HOF fold — the DP
    * that order-sensitive similarity (ROUGE-L) needs, with the
    * row-update rewritten scan-free so BOTH engines can express it:
    * `dp[i][j] = max(dp[i-1][j], dp[i][j-1], dp[i-1][j-1] + eq)` is a
    * running max in `j`, so each new row is the prefix-max of
    * `h[k] = max(prev[k+1], prev[k] + eq_k)` — no left-to-right
    * carry, just `array_max(slice(h, 1, j))`. O(n·m²) per pair, which
    * is why callers bound token counts ([[rougeVerifiedPairs]]'
    * `maxTokens`) and run it on BANDED candidates only, never
    * all-pairs. Arrays must be non-null; empty sides yield 0.
    */
  def lcsLen(a: Column, b: Column): Column = {
    val m = size(b)
    when(size(a) === 0 || m === 0, lit(0)).otherwise(
      aggregate(
        a,
        transform(sequence(lit(0), m), _ => lit(0)),
        (prev, tok) => {
          val h = transform(sequence(lit(1), m), k =>
            greatest(element_at(prev, k + 1),
              element_at(prev, k) +
                when(element_at(b, k) === tok, 1).otherwise(0)))
          concat(array(lit(0)),
            transform(sequence(lit(1), m), j =>
              array_max(slice(h, lit(1), j))))
        },
        acc => element_at(acc, -1)))
  }

  /** ⊕ ROUGE-L-verified near-dup pairs — the Self-Instruct (Wang et
    * al. 2023) instruction-dedup rule made distributed: a new
    * instruction is a duplicate when its ROUGE-L F1 against an
    * existing one exceeds a threshold. Same blocking+verify shape as
    * [[editVerifiedPairs]] (loose simhash banding → exact verify),
    * but the verify is ORDER-SENSITIVE: ROUGE-L F1 =
    * 2·LCS(a, b) / (|a| + |b|) over word tokens, so shuffled
    * bags-of-words that fool Jaccard score low here. Tokens are
    * bounded to the first `maxTokens` per side (prompt-granularity
    * similarity — the DP is quadratic per pair), and every candidate
    * pair is emitted with its verdict (flag, not filter) so the
    * screen's selectivity stays visible.
    */
  def rougeVerifiedPairs(df: DataFrame, id: Column, text: Column,
                         maxHamming: Int = 8, maxTokens: Int = 40,
                         minRouge: Double = 0.5,
                         maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val toks = df.select(id.as("id"),
      slice(split(graft.ops.Text.cleanText(lower(text)), " "),
        1, maxTokens).as("__t"))
    simhashNearDup(df, id, text, maxHamming, maxBucket)
      .join(toks.select(col("id").as("id_a"), col("__t").as("__ta")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("__t").as("__tb")), "id_b")
      .withColumn("lcs", lcsLen(col("__ta"), col("__tb")))
      .select(col("id_a"), col("id_b"), col("hamming"), col("lcs"),
        round(lit(2.0) * col("lcs") / (size(col("__ta")) + size(col("__tb"))), 4)
          .as("rouge_l"))
      .withColumn("is_dup", col("rouge_l") >= minRouge)
  }

  /** Banded hamming self-join over ANY 64-bit signature column
    * (`(id, sig)` rows): 4×16-bit bands bucket the candidates, so the
    * pair set is COMPLETE for `maxHamming` ≤ 3 by pigeonhole (a pair
    * differing in ≤3 bits leaves at least one of the 4 bands
    * identical). Shared by text SimHash ([[simhashNearDup]]) and
    * image aHash ([[ImageHash.nearDupImages]]) — the banding and its
    * `maxBucket` skew backstop are signature-agnostic.
    */
  def hammingPairs64(sigs: DataFrame, maxHamming: Int = 3,
                     maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val segs = sigs.select(col("id"), col("sig"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("seg_idx"),
            shiftright(col("sig"), i * 16).bitwiseAND(lit(0xffffL)).as("seg_val"))): _*)).as("seg"))
      .select(col("id"), col("sig"), col("seg.seg_idx"), col("seg.seg_val"))
    bucketPairs(segs, Seq("seg_idx", "seg_val"), struct(col("id"), col("sig")), maxBucket)
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** 4×16-bit band rows for a 64-bit signature table — shared by the
    * symmetric self-join ([[hammingPairs64]]) and the asymmetric
    * incremental probe ([[incrementalNearDup]]).
    */
  private def sigBands(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), col("sig"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("seg_idx"),
            shiftright(col("sig"), i * 16).bitwiseAND(lit(0xffffL)).as("seg_val"))): _*)).as("seg"))
      .select(col("id"), col("sig"), col("seg.seg_idx"), col("seg.seg_val"))

  /** ⊕ Incremental near-dup screen — the daily-crawl production
    * shape: flag each INCOMING document that is within `maxHamming`
    * simhash bits of (a) anything already in `history` or (b) an
    * earlier (smaller-id) incoming document. Returns
    * `(id, is_dup)` for every incoming row; ids must be globally
    * unique across both tables (the usual crawl-id contract).
    *
    * Scale shape — the point of the asymmetric form: new×old
    * candidates come from an EQUI-join of incoming band rows against
    * history band rows (probe/build), so history×history pairs are
    * NEVER generated — cost scales with |incoming|·occupancy, not
    * |history|²; at a 100 TB history the band table is the stored,
    * bucketed index. new×new pairs reuse [[hammingPairs64]] with the
    * min-id drop rule (q106's convention). Both candidate paths stay
    * pigeonhole-complete for maxHamming ≤ 3. `maxBucket` caps
    * HISTORY-side band buckets here and incoming-side buckets inside
    * [[hammingPairs64]] — two SEPARATE per-parity caps, while the
    * q123 oracle's shared CTE caps the combined band bucket; the
    * mirror is exact only while no bucket reaches the cap (the same
    * contract as every other bucket backstop's HAVING). The
    * streaming twin is
    * [[graft.streaming.EventStream.nearDupPairsStream]] — same
    * bands, state instead of a stored index.
    */
  def incrementalNearDup(history: DataFrame, incoming: DataFrame,
                         id: Column, text: Column, maxHamming: Int = 3,
                         maxBucket: Int = DefaultMaxBucket): DataFrame = {
    def sigsOf(df: DataFrame) = df.select(id.as("id"),
      graft.functions.SimHash64.simhash64(shingles(text, 3)).as("sig"))
    val hBands = sigBands(sigsOf(history))
    val hOk = hBands.groupBy(col("seg_idx"), col("seg_val"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucket)
      .select(col("seg_idx"), col("seg_val"))
    val hCapped = hBands.join(hOk, Seq("seg_idx", "seg_val"))
      .select(col("seg_idx"), col("seg_val"),
        col("id").as("__hid"), col("sig").as("__hsig"))
    val iSigs = sigsOf(incoming)
    val newOld = sigBands(iSigs)
      .join(hCapped, Seq("seg_idx", "seg_val"))
      .filter(bit_count(col("sig").bitwiseXOR(col("__hsig"))) <= maxHamming)
      .select(col("id")).distinct()
    val newNew = hammingPairs64(iSigs, maxHamming, maxBucket)
      .select(col("id_b").as("id")).distinct()  // min-id survives
    iSigs.select(col("id"))
      .join(newOld.union(newNew).distinct().withColumn("is_dup", lit(true)),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  /** ⊕ Winnowing near-dup: documents sharing ≥ `minShared` rolling-hash
    * fingerprints ([[graft.functions.Winnow]] — MOSS scheme). Candidate
    * generation is an equi-join on single fingerprint values (explode →
    * shuffle on the fingerprint, same no-O(n²) shape as the LSH
    * pipelines); the shared count is exact. Catches long shared
    * substrings even when documents differ elsewhere — complementary
    * to set-based MinHash.
    *
    * Scale note: a fingerprint's bucket size IS its document
    * frequency, so a boilerplate substring shared by a large corpus
    * fraction (license headers, navigation text) gives a posting list
    * ∝ n and quadratic pair work from that one fingerprint.
    * `maxBucket` caps each fingerprint's contribution at
    * maxBucket²/2 pairs — total pair work stays linear in corpus size
    * at the cap — and LOWERING it is the first lever on
    * boilerplate-heavy corpora: a fingerprint shared by thousands of
    * documents identifies boilerplate, not near-duplication (the same
    * stopword argument as [[contaminationPairs]]'s doc-frequency cap).
    */
  def winnowNearDup(df: DataFrame, id: Column, text: Column,
                    k: Int = 12, w: Int = 6, minShared: Int = 5,
                    maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val fps = df.select(id.as("id"),
        explode(graft.functions.Winnow.winnow(Text.cleanText(lower(text)), k, w)).as("fp"))
    bucketPairs(fps, Seq("fp"), struct(col("id")), maxBucket)
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** ⊕ Asymmetric containment detection: pairs where the SMALLER
    * shingle set is mostly inside the larger one —
    * `containment(A→B) = |A∩B| / |A|` — which Jaccard misses when
    * sizes differ (a tweet quoted inside an article has tiny Jaccard
    * but containment ≈ 1). Candidate generation reuses the same
    * banded-minhash bucket grouping; verification computes containment
    * of the smaller set in the larger. Returns (id_small, id_big,
    * containment); note banding recall is Jaccard-driven, so extreme
    * size ratios need more bands/hashes — documented trade, same as
    * every LSH containment scheme short of a dedicated
    * containment-LSH.
    */
  def containmentPairs(df: DataFrame, id: Column, text: Column,
                       shingleK: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 1,
                       threshold: Double = 0.9, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val docs = df.select(id.as("id"), shingles(text, shingleK).as("sh"))
    val bands = docs.select(col("id"), col("sh"),
        graft.functions.MinHashSig.minhash_sig(col("sh"), numHashes).as("sig"))
      .select(col("id"), col("sh"),
        explode(bandKeys(col("sig"), numHashes, rowsPerBand)).as("band"))
      .select(col("id"), col("sh"), col("band.band_idx"), col("band.band_key"))
      .filter(col("band_key").isNotNull)
    val ordered = bucketPairs(bands, Seq("band_idx", "band_key"),
        struct(col("id"), col("sh")), maxBucket)
      .filter(col("a.id") < col("b.id"))
      .select(
        when(size(col("a.sh")) <= size(col("b.sh")), col("a.id")).otherwise(col("b.id")).as("id_small"),
        when(size(col("a.sh")) <= size(col("b.sh")), col("b.id")).otherwise(col("a.id")).as("id_big"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          least(size(col("a.sh")), size(col("b.sh"))).cast("double")).as("raw"))
    ordered
      .select(col("id_small"), col("id_big"), round(col("raw"), 4).as("containment"))
      .filter(col("containment") >= threshold)
      .distinct()
      .orderBy(col("id_small"), col("id_big"))
  }

  /** ⊕ Duplicate-cluster formation: connected components of the
    * near-dup pair graph by iterative min-label propagation — each
    * round every node takes the min label among itself and its
    * neighbors (one join + one min-aggregate per round), converging in
    * O(component diameter) rounds. Near-dup components are shallow in
    * practice (dup clusters, not social graphs), so the round count
    * stays small; for adversarially long chains a pointer-jumping /
    * large-star–small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond") halves diameters per round —
    * same join/agg building blocks, swap in if profiling demands it
    * (measured here: the extra self-join per round costs more than it
    * saves on shallow graphs). Deterministic output:
    * cluster_id = min member id.
    *
    * Returns (doc_id, cluster_id, cluster_size) for every node that
    * appears in a pair, ordered by doc_id. Runs the propagation loop
    * EAGERLY (each round is an action, like [[Similarity.ivfFit]]);
    * throws if maxIters is reached before the fixpoint rather than
    * returning partially-propagated labels.
    *
    * Iteration state lives in `localCheckpoint`ed tables, NOT
    * persist(): each round's label table must be unreferenced when the
    * next one lands, and unpersisting a cached parent recompiles the
    * dependent cache entries — measured here, every round's
    * "cached" table silently replayed the WHOLE lineage (pair
    * generation included) on each action, 2-3× the query. Checkpoint
    * blocks truncate the lineage instead: rounds build on stored
    * blocks, the returned plan is shallow, and dead blocks are freed
    * by the ContextCleaner. (localCheckpoint is executor-local; a
    * multi-node deployment that must survive executor loss swaps in
    * `checkpoint()` with a reliable dir — same shape.)
    *
    * Convergence detection: labels are monotonically non-increasing
    * under min-propagation, so the fixpoint is reached exactly when
    * `sum(cluster_id)` stops decreasing — ONE aggregate on the new
    * label table per round, no old-vs-new join. The sum is exact
    * decimal(38,0), overflow-proof at any node count.
    */
  def dupClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                  maxIters: Int = 50): DataFrame = {
    val dir = pairs.select(col(idA).cast("long").as("src"), col(idB).cast("long").as("dst"))
    // Symmetrize by exploding each pair to both directions in ONE scan
    // — a union of `dir` with its swap would evaluate the (often
    // expensive) upstream pair-generation subtree once per branch.
    // Checkpoint pre-partitioned on the join key (LogicalRDD keeps the
    // partitioning), so every round's edge⋈label join reuses it
    // instead of re-exchanging the edges.
    val edges = dir.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src"))
      .localCheckpoint()  // eager: pair generation runs exactly once
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("cluster_id").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).first().getDecimal(0)
    // Initial labels already carry ONE propagation hop for free:
    // label(v) = min(v, min neighbor) is a groupBy over the symmetric
    // edge table — the same single aggregation job the former
    // identity-label distinct() paid, but it starts the loop one hop
    // in. On the shallow components near-dup graphs produce (measured
    // at sf0.1: fixpoint in 1-2 hops), this removes one full
    // checkpoint + convergence-sum round per call (guide §2.2 —
    // iteration cost), and the fixpoint is unchanged (min-label
    // propagation is monotone; extra early hops never alter it).
    var labels = edges.groupBy(col("src"))
      .agg(least(min(col("dst")), first(col("src"))).as("cluster_id"))
      .select(col("src").as("v"), col("cluster_id"))
      .localCheckpoint()
    var prevSum = labelSum(labels)
    var converged = false
    var iters = 0
    while (!converged && iters < maxIters) {
      val viaNbr = edges.join(labels, edges("src") === labels("v"))
        .select(col("dst").as("v"), col("cluster_id"))
      val next = labels.unionByName(viaNbr)
        .groupBy(col("v")).agg(min(col("cluster_id")).as("cluster_id"))
        .localCheckpoint()
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      iters += 1
    }
    require(converged,
      s"dupClusters did not converge in $maxIters rounds (label sum still " +
        "decreasing) — component diameter exceeds maxIters; raise it or switch to " +
        "a pointer-jumping / large-star-small-star contraction for adversarially " +
        "long chains")
    val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("v").as("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** ⊕ [[dupClusters]]'s adversarial-diameter scale path: connected
    * components by alternating large-star / small-star contraction
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond" — the CC-MR family). Min-label propagation converges in
    * O(component diameter) rounds, which is fine for the shallow
    * components near-dup graphs produce but fails on long chains (a
    * 10k-link near-dup chain — versioned documents, char-shifted
    * spam — is 10k propagation rounds). Contraction halves distances
    * each round instead: O(log² n) rounds on ANY graph shape.
    *
    * Per round, two pure edge-rewrite steps (no collect_list — a
    * degree-d star is d ROWS, never one d-element array, so a
    * mass-duplicate hub cannot OOM a task):
    *
    *  - large-star: symmetrize, per-node min m = min(Γ(u) ∪ {u}) (one
    *    aggregation + an equi-join), connect every LARGER neighbor
    *    v > u to m;
    *  - small-star: orient each edge large→small, per-node min over
    *    the smaller neighbors, connect them and u itself to the min.
    *
    * Both steps preserve connectivity exactly (paper, Thms 1-2) and
    * strictly shrink the potential until the edge set is a star
    * forest: every node points directly at its component's min id —
    * the same `cluster_id = min member` contract as [[dupClusters]].
    * Fixpoint detection compares consecutive canonical edge SETS
    * (counts + one-sided `except` — exact, not a fingerprint); rounds
    * run eagerly on `localCheckpoint`ed edge tables (the
    * [[dupClusters]] lineage-truncation rationale).
    *
    * Output schema and values are identical to [[dupClusters]]
    * (DedupSpec proves equality; the q169 oracle byte-shares q48's) —
    * choose by graph shape: propagation does fewer, cheaper rounds on
    * shallow graphs; contraction is the guarantee when diameter is
    * unknown or adversarial.
    */
  def dupClustersContracted(pairs: DataFrame, idA: String = "id_a",
                            idB: String = "id_b", maxIters: Int = 30): DataFrame = {
    // canonical undirected form: (hi, lo), self-loops dropped
    val canon0 = pairs
      .select(col(idA).cast("long").as("u"), col(idB).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("hi"), least(col("u"), col("v")).as("lo"))
      .distinct()
    var edges = canon0.localCheckpoint()
    // node set derives from the CHECKPOINTED edges, so the (possibly
    // expensive) pair-generation subtree above runs exactly once
    val nodes = edges.select(explode(array(col("hi"), col("lo"))).as("doc_id"))
      .distinct().localCheckpoint()
    var prevCount = edges.count()
    var converged = false
    var iters = 0
    while (!converged && iters < maxIters) {
      // large-star: key = each endpoint u over the symmetrized edges
      val sym = edges.select(explode(array(
          struct(col("hi").as("src"), col("lo").as("dst")),
          struct(col("lo").as("src"), col("hi").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val mins = sym.groupBy(col("src"))
        .agg(least(min(col("dst")), first(col("src"))).as("m"))
      val large = sym.join(mins, Seq("src"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct()
      // small-star: key = the larger endpoint; all its neighbors here
      // are smaller, m = min(neighbors ∪ {u}) = min(neighbors)
      val smins = large.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val small = large.join(smins, Seq("hi"))
        .select(col("lo").as("a"), col("m").as("b"))
        .unionByName(smins.select(col("hi").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("hi"), least(col("a"), col("b")).as("lo"))
        .distinct()
        .localCheckpoint()
      val c = small.count()
      // exact set equality: equal counts + empty one-sided difference
      converged = c == prevCount && small.except(edges).isEmpty
      prevCount = c
      edges = small
      iters += 1
    }
    require(converged,
      s"dupClustersContracted did not converge in $maxIters rounds — " +
        "O(log^2 n) expected; raise maxIters")
    // star forest: every non-root points at its component min
    val labels = nodes.join(edges, nodes("doc_id") === edges("hi"), "left")
      .select(col("doc_id"), coalesce(col("lo"), col("doc_id")).as("cluster_id"))
    val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Banding geometry for a target Jaccard threshold: the `(b, r)`
    * S-curve inflection sits at `(1/b)^(1/r)` (Mining of Massive
    * Datasets §3.4.3), so for a signature of `numHashes` minhashes
    * pick the divisor `r` whose inflection lands closest to the
    * threshold — the SEMANTIC-knob derivation companion to the
    * corpus-size knobs (`bitsForCorpus` et al.): bits/k come from one
    * `count()`, band geometry comes from the threshold the USER chose.
    * Ties prefer the smaller `r` (more bands → higher recall at equal
    * inflection distance). Returns `rowsPerBand` for [[nearDupPairs]].
    */
  def rowsPerBandForThreshold(threshold: Double, numHashes: Int = 8): Int = {
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0,1), got $threshold")
    require(numHashes >= 2, s"numHashes must be >= 2, got $numHashes")
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
    divisors.minBy { r =>
      val b = numHashes / r
      (math.abs(math.pow(1.0 / b, 1.0 / r) - threshold), r)
    }
  }

  /** AUTO-SIZED banding from a target recall — the fixed→auto
    * treatment (q26→q149, q174→q176, bloom bits, bucket width) applied
    * to the last fixed-knob candidate-generation family, after q238
    * MEASURED the cost of fixed (4 bands × 2 rows): recall 0.887 at
    * threshold 0.5 (true pairs in J∈[0.5, 0.72] missed) vs 1.0 at 0.8.
    *
    * Inverts the banding S-curve `P(collide | J=s) = 1 − (1 − sʳ)ᵇ`
    * (Broder; Mining of Massive Datasets §3.4): a pair AT the
    * threshold must become a candidate with probability ≥
    * `targetRecall`, so for each row count r the minimal band count is
    *
    *   b_min(r) = ⌈ ln(1 − targetRecall) / ln(1 − tʳ) ⌉
    *
    * Every (r, b_min(r)) with r·b ≤ `maxHashes` meets the recall
    * target; among them the PRECISION differs enormously (r = 1 means
    * any shared minhash collides), so the pick minimizes the collision
    * probability of a NON-pair at s = t/2 — the standard noise point —
    * and the signature length r·b is the cost cap, not the objective.
    * Pairs ABOVE the threshold collide with probability > targetRecall
    * (the S-curve is increasing in s), so the target is a floor for
    * the whole accepted range.
    *
    * Returns (numHashes, rowsPerBand) for [[nearDupPairs]] — numHashes
    * = b·r exactly, so every hash is used. Deterministic pure
    * arithmetic: the derived geometry is oracle-replayable as
    * literals (q239 anchors it against the exact set-sim join and
    * re-measures q238's curve at the derived point).
    */
  def bandingForRecall(threshold: Double, targetRecall: Double,
                       maxHashes: Int = 64): (Int, Int) = {
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0,1), got $threshold")
    require(targetRecall > 0 && targetRecall < 1,
      s"targetRecall must be in (0,1), got $targetRecall")
    require(maxHashes >= 1, s"maxHashes must be >= 1, got $maxHashes")
    val feasible = (1 to maxHashes).flatMap { r =>
      val pAtT = math.pow(threshold, r)
      // feasibility test in the DOUBLE domain: for large r the band
      // count explodes (t^r underflows), and a premature .toInt would
      // saturate/overflow into a bogus "feasible" entry
      val bD = math.ceil(math.log1p(-targetRecall) / math.log1p(-pAtT))
      if (bD >= 1 && bD.isFinite && r * bD <= maxHashes) Some((r, bD.toInt))
      else None
    }
    require(feasible.nonEmpty,
      s"no (rows, bands) with <= $maxHashes hashes reaches recall " +
        s"$targetRecall at threshold $threshold — raise maxHashes")
    val noise = threshold / 2
    val (r, b) = feasible.minBy { case (r, b) =>
      // collision probability of a noise-similarity non-pair; ties
      // (r maxed out) break to the cheaper signature
      (1.0 - math.pow(1.0 - math.pow(noise, r), b), r * b)
    }
    (b * r, r)
  }

  /** Full MinHash-LSH near-dup pipeline: returns (id_a, id_b, jaccard)
    * for candidate pairs whose exact shingle Jaccard ≥ threshold, with
    * id_a < id_b, deterministic order.
    *
    * @param df       input with an id column and a text column
    * @param numHashes   MinHash signature length (default 8)
    * @param rowsPerBand minhashes per LSH band (default 2 → 4 bands;
    *                    collision prob at jaccard s is 1-(1-s^2)^4.
    *                    The default is RECALL-leaning: inflection 0.5
    *                    sits well under the 0.8 verify threshold, so
    *                    nearly every true pair becomes a candidate at
    *                    the cost of more candidates to verify;
    *                    [[rowsPerBandForThreshold]] derives the
    *                    cost-balanced geometry instead — r=4 at 0.8 —
    *                    when candidate volume, not recall, binds.
    *                    At corpus scale call [[nearDupPairsForRecall]]
    *                    instead: it derives BOTH knobs from the recall
    *                    the user actually wants; the fixed defaults
    *                    here stay as the oracle-replayable anchor)
    */
  def nearDupPairs(df: DataFrame, id: Column, text: Column,
                   shingleK: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2,
                   threshold: Double = 0.8, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // No eager `filter(size(sh) > 0)` here: predicate pushdown would
    // substitute the whole tokenize+shingle chain into the parquet
    // scan's data filter and re-evaluate it per row (measured; see
    // bucketPairs scaladoc). Empty shingle sets get a null signature
    // ([[graft.functions.MinHashSig]]) and are dropped by the cheap
    // null-key filter AFTER the banding step instead.
    val docs = df.select(id.as("id"), shingles(text, shingleK).as("sh"))
    val bands = docs.select(col("id"), col("sh"),
        graft.functions.MinHashSig.minhash_sig(col("sh"), numHashes).as("sig"))
      .select(col("id"), col("sh"),
        explode(bandKeys(col("sig"), numHashes, rowsPerBand)).as("band"))
      .select(col("id"), col("sh"), col("band.band_idx"), col("band.band_key"))
      .filter(col("band_key").isNotNull)
    // Shingle sets ride along through the ONE band shuffle (groupBy),
    // so tokenize+shingle+signature is evaluated exactly once and the
    // exact-Jaccard verify never re-reads the source. Thresholding
    // runs BEFORE the cross-band pair dedup so distinct only sees the
    // (few) passing pairs.
    bucketPairs(bands, Seq("band_idx", "band_key"), struct(col("id"), col("sh")), maxBucket)
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(jaccard(col("a.sh"), col("b.sh")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .distinct()  // same pair from multiple bands → identical jaccard
      .orderBy(col("id_a"), col("id_b"))
  }

  /** CORPUS-SCALE entry point of the near-dup family: [[nearDupPairs]]
    * with the banding geometry DERIVED from (threshold, targetRecall)
    * via [[bandingForRecall]] — the fixed→auto convention
    * (`annLshPairsAuto`, `semDedupAuto`) applied to its last family.
    * A user states the semantic contract ("pairs at Jaccard ≥ 0.5,
    * catch ≥ 95% of them") and the S-curve inversion picks the
    * cheapest (bands × rows) signature that meets it — at (0.5, 0.95)
    * that is 11 bands × 2 rows = 22 hashes, the geometry q239 anchors
    * with a measured recall of 0.9811 on q238's planted fixture
    * (fixed 4×2 measured 0.887 on the same fixture — the gap is the
    * reason this wrapper, not [[nearDupPairs]]'s defaults, is the
    * documented deployment form).
    *
    * Scale shape is unchanged from [[nearDupPairs]]: one band shuffle,
    * bucketed candidate generation (never all-pairs), exact-Jaccard
    * verify before the pair dedup. A larger band count multiplies the
    * EXPLODE factor (rows into the band shuffle), not the shuffle
    * count — recall is bought with b·r hashes per doc, linear in
    * corpus size.
    */
  def nearDupPairsForRecall(df: DataFrame, id: Column, text: Column,
                            threshold: Double, targetRecall: Double,
                            shingleK: Int = 3, maxHashes: Int = 64,
                            maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val (numHashes, rowsPerBand) = bandingForRecall(threshold, targetRecall, maxHashes)
    nearDupPairs(df, id, text, shingleK, numHashes, rowsPerBand, threshold, maxBucket)
  }

  /** ⊕ Train/test CONTAMINATION check: for every (test, train)
    * document pair sharing at least `minOverlap` distinct k-word
    * shingles, report the overlap count and the fraction of the TEST
    * document's shingles found in the train document — the
    * benchmark-leakage screen every LLM training pipeline runs before
    * evaluation (an eval example whose shingles are largely contained
    * in some training document is contaminated).
    *
    * This is EXACT (no MinHash banding): candidate generation is an
    * equi-join on the shingle itself, so recall is 100% at
    * `minOverlap` granularity — affordable because the test corpus is
    * typically orders of magnitude smaller than the train corpus, and
    * the shuffle key is the shingle, never the document.
    *
    * Plan shape at scale: the doc-frequency cap is applied in TWO
    * passes so no posting list is ever materialized for a shingle
    * that will be dropped. Pass 1 is a `count(*)` per shingle —
    * partial (map-side) aggregation means a stopword-like shingle in
    * millions of train docs costs one long per mapper, never a
    * buffered list. Pass 2 semi-joins the exploded (shingle,
    * train_id) rows against the surviving shingles, so a hot
    * shingle's rows are discarded at the join probe without ever
    * being collected into one aggregation buffer row. Then one
    * shuffle of the test side on the shingle, one equi-join, and a
    * groupBy on the (test, train) pair. The `maxDocsPerShingle` cap
    * drops stopword-like shingles that appear in more than that many
    * train documents — they carry no contamination signal (mirror
    * the cap in any SQL oracle via a HAVING).
    */
  def contaminationPairs(train: DataFrame, test: DataFrame,
                         id: Column, text: Column, k: Int = 3,
                         minOverlap: Int = 1,
                         maxDocsPerShingle: Int = DefaultMaxBucket,
                         bloomPruneTrain: Boolean = false,
                         bloomExpectedItems: Long = 0L): DataFrame = {
    // TRAIN, pass 1: per-shingle doc frequency via count(*) — partial
    // aggregation keeps a hot shingle to one long per mapper (never a
    // buffered posting list). Pass 2: semi-join the exploded rows
    // against the shingles that survive the cap.
    //
    // bloomPruneTrain is the 100 TB switch: the benchmark/test side is
    // tiny next to the training corpus, so a bloom over TEST shingles
    // (one fixed-size binary, RuntimeFilter.bloomOf) evaluated inside
    // the train scan kills the dominant cost — train shingles that can
    // match no test shingle die BEFORE the explode feeds any exchange.
    // Sound because the bloom admits only false POSITIVES and prunes
    // whole shingle groups: per-shingle doc frequencies of survivors
    // are unchanged and the exact equi-join drops the stragglers, so
    // the composed result is byte-identical to the unpruned form
    // (q158 shares q91's oracle to pin exactly that).
    // The bloom must be SIZED to the test side: a fixed capacity
    // saturates once the benchmark suite outgrows it (every bit set →
    // zero pruning at full build cost — measured 7.1× at the second
    // decade on the fixed-1M form). bloomExpectedItems = 0 (the
    // default) derives capacity from one count() of test shingle
    // instances ×2 headroom — the bitsForCorpus stance applied to the
    // filter itself.
    val exploded0 = train
      .select(id.as("train_id"), explode(shingles(text, k)).as("sh"))
    val exploded =
      if (!bloomPruneTrain) exploded0
      else {
        val testSh = test.select(explode(shingles(text, k)).as("sh"))
        val items =
          if (bloomExpectedItems > 0) bloomExpectedItems
          else math.max(1024L, 2L * testSh.count())
        graft.ops.RuntimeFilter.probe(exploded0, col("sh"),
          graft.ops.RuntimeFilter.bloomOf(testSh, col("sh"),
            items, 8L * items))
      }
    val surviving = exploded
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocsPerShingle)
      .select(col("sh"))
    val posting = exploded.join(surviving, Seq("sh"), "left_semi")
    val te = test
      .select(id.as("test_id"), shingles(text, k).as("__shs"))
      .filter(size(col("__shs")) > 0)
      .select(col("test_id"), size(col("__shs")).as("n_test_shingles"),
        explode(col("__shs")).as("sh"))
    // shingles are DISTINCT per doc on both sides, so count(*) per
    // (test, train) pair is exactly |S_test ∩ S_train|
    te.join(posting, "sh")
      .groupBy(col("test_id"), col("train_id"), col("n_test_shingles"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      // tie-free publish: the fraction of two exact counts ships as
      // floor division at 4 dp (the round(double, 4) form landed
      // exactly on .5 boundaries — r15 guard-band sweep, q91/q158)
      .select(col("test_id"), col("train_id"), col("n_overlap"),
        graft.ops.Exact.ratio(col("n_overlap"), col("n_test_shingles"), 4)
          .as("overlap_frac"))
  }

  /** ⊕ Mass-duplicate-safe near-dup CLUSTERING over 64-bit
    * signatures: the 100 TB form of [[hammingPairs64]]. A pair list
    * is inherently quadratic when the corpus contains mass
    * duplicates — one image re-hosted d times puts d identical
    * signatures in the same band bucket and d·(d−1)/2 pairs in the
    * output (measured: the pre-fix q101/q102 fixtures, whose pattern
    * space collapsed at sf1, ran 69×/110× at 10× data). This variant
    * collapses identical signatures to their min-id representative
    * FIRST (one hash shuffle, output O(unique)), runs the banded
    * hamming join over UNIQUE signatures only, then labels connected
    * components ([[dupClusters]]) and maps every id to its
    * representative's component — O(n) output, and exactly the
    * transitive closure a brute-force all-pairs ≤ `maxHamming` pass
    * would produce (near-pair existence between two signatures does
    * not depend on which duplicate represents them).
    *
    * Output: `(id, cluster_id, cluster_size)` — cluster_id is the
    * component's global min id, cluster_size counts MEMBERS (not
    * representatives).
    */
  def hammingClusters(sigs: DataFrame, maxHamming: Int = 3,
                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val reps = sigs.groupBy(col("sig")).agg(min(col("id")).as("rep"))
    val pairs = hammingPairs64(
      reps.select(col("rep").as("id"), col("sig")), maxHamming, maxBucket)
    val cc = dupClusters(pairs).select(col("doc_id").as("rep"), col("cluster_id"))
    val labeled = sigs.join(reps, Seq("sig"))
      .join(cc, Seq("rep"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
    val sizes = labeled.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, Seq("cluster_id"))
      .select(col("id"), col("cluster_id"), col("cluster_size"))
  }

  /** ⊕ Cross-corpus repeated-span removal — the span-level EXACT
    * dedup of the "deduplicating training data" pipelines: any
    * k-token window whose exact text occurs ≥ `minDf` times across
    * the corpus (occurrence count, so within-document repetition
    * counts too) is duplication/boilerplate, and every token it
    * covers is dropped from every document. Document-level dedup
    * ([[exactDedup]], MinHash/SimHash) cannot catch this: two
    * distinct documents sharing one quoted paragraph both keep it.
    *
    * Plan shape at scale (the q91 two-pass shape): each window is
    * keyed by md5 of its text — a fixed 32-byte shuffle key instead
    * of k tokens — and the repetition pass is a `count(*)` per key,
    * partial-aggregated map-side, so a corpus-wide boilerplate span
    * costs one long per mapper, never a posting list. Pass 2
    * semi-joins the (doc, pos) windows against the repeated keys, so
    * covered positions explode only for FLAGGED windows; reassembly
    * is row-local (an index filter over the token array — no second
    * text shuffle). Nothing is O(n²); the shuffle key is span
    * content, never the document.
    *
    * Output: `(doc_id, n_tokens, n_removed, text_clean)`. Exactness:
    * md5 collisions aside, identical to keying by the window string
    * (the q97 oracle mirrors the same md5).
    */
  def removeRepeatedSpans(df: DataFrame, id: Column, text: Column,
                          k: Int = 10, minDf: Int = 2): DataFrame = {
    val (base, pos) = coveredPositions(df, id, text, k, minDf)
    val covered = pos
      .groupBy(col("doc_id"))
      .agg(collect_set(col("__j")).as("__cov"))
    base.join(covered, Seq("doc_id"), "left")
      .withColumn("__cov", coalesce(col("__cov"), array().cast("array<int>")))
      .select(
        col("doc_id"),
        col("__n").as("n_tokens"),
        size(col("__cov")).as("n_removed"),
        array_join(filter(col("__w"),
          (t, j) => not(array_contains(col("__cov"), j))), " ").as("text_clean"))
  }

  /** Shared core of the span-level dedup pair: `base(doc_id, __w,
    * __n)` plus the (doc_id, __j) positions covered by some k-token
    * window whose md5 occurs ≥ minDf times corpus-wide (positions
    * repeat across overlapping windows — callers dedup as needed).
    */
  private def coveredPositions(df: DataFrame, id: Column, text: Column,
                               k: Int, minDf: Int): (DataFrame, DataFrame) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val base = df.select(id.as("doc_id"), tokens(text).as("__w"))
      .withColumn("__n", size(col("__w")))
    val wins = base
      .filter(col("__n") >= k)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), col("__n") - k),
        i => md5(array_join(slice(col("__w"), i + 1, lit(k)), " "))))
        .as(Seq("pos", "__h")))
    val repeated = wins.groupBy(col("__h"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("__h"))
    val pos = wins.join(repeated, Seq("__h"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("__j"))
    (base, pos)
  }

  /** ⊕ ExactSubstr-semantics maximal repeated spans (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" —
    * the ExactSubstr pipeline): every MAXIMAL span of ≥ `minLen`
    * tokens whose text occurs ≥ `minDf` times corpus-wide, reported
    * as a unit — `(doc_id, span_start, span_end, span_len,
    * span_md5)`, 0-based inclusive token positions.
    *
    * Suffix-array-free equivalence (what makes this Spark-
    * expressible): the token positions covered by SOME repeated
    * substring of ≥ L tokens are EXACTLY the positions covered by
    * repeated L-grams — a repeated substring of length m ≥ L is the
    * union of its m−L+1 (necessarily repeated) constituent L-grams,
    * and a repeated L-gram IS a repeated substring of length L. The
    * maximal repeated spans are therefore the maximal RUNS of
    * covered positions, found with the gaps-and-islands trick
    * (`j − row_number` per document) — no suffix array, no per-doc
    * collect, and every span is ≥ L tokens by construction (the
    * minimal covered unit is one whole L-window). The per-doc window
    * partitions on doc_id, so parallelism is the document count and
    * state is one document's positions.
    *
    * Choice rule vs [[removeRepeatedSpans]] (q97): SAME covered set
    * at k = minLen — q97 deletes it in one fewer pass (no window,
    * no span reassembly) and is the cleaning path; this form
    * materializes the span STRUCTURE (boundaries, length, content
    * hash), which is what a dedup audit, a span-suppression list, or
    * Lee et al.'s remove-all-but-one-copy policy consume. Clean with
    * q97; SEE what repeated with this.
    */
  def maximalRepeatedSpans(df: DataFrame, id: Column, text: Column,
                           minLen: Int = 10, minDf: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (base, pos) = coveredPositions(df, id, text, minLen, minDf)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("__j"))
    val spans = pos.distinct()
      .withColumn("__isl", col("__j") - row_number().over(w))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("__j")).as("span_start"), max(col("__j")).as("span_end"))
    spans.join(base, Seq("doc_id"))
      .select(col("doc_id"),
        col("span_start").cast("int").as("span_start"),
        col("span_end").cast("int").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("int").as("span_len"),
        md5(array_join(slice(col("__w"), col("span_start") + 1,
          col("span_end") - col("span_start") + 1), " ")).as("span_md5"))
  }

  /** ⊕ ExactSubstr DEDUP POLICY (Lee et al. 2022's actual removal
    * rule — "remove all but one copy"): [[maximalRepeatedSpans]]'s
    * span structure APPLIED. Per distinct span CONTENT (span_md5) the
    * (doc_id, span_start)-minimal occurrence KEEPS its text; every
    * other occurrence's token positions are removed and the document
    * reassembles from the survivors. Contrast [[removeRepeatedSpans]]
    * (q97): that deletes EVERY copy — the conservative
    * training-contamination stance; this keeps exactly one — the
    * corpus-mass-preserving stance the paper ships. Maximal runs
    * within a document are DISJOINT by construction (they are maximal
    * runs of the covered-position set), so loser-span removal never
    * double-counts a position.
    *
    * Scale shape: the span pass is q189's (no suffix array, no
    * per-doc collect); the winner choice is one min-struct
    * aggregation on span_md5 (the q195 first-occurrence shape); only
    * LOSER positions explode. Output: (doc_id, n_tokens, n_removed,
    * text_clean).
    */
  def exactSubstrDedup(df: DataFrame, id: Column, text: Column,
                       minLen: Int = 10, minDf: Int = 2): DataFrame = {
    val spans = maximalRepeatedSpans(df, id, text, minLen, minDf)
    val winners = spans.groupBy(col("span_md5"))
      .agg(min(struct(col("doc_id"), col("span_start"))).as("__w"))
      .select(col("span_md5"), col("__w.doc_id").as("doc_id"),
        col("__w.span_start").as("span_start"))
    val losers = spans.join(winners, Seq("span_md5", "doc_id", "span_start"),
      "left_anti")
    val removed = losers
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("__j"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("__j")).as("__rm"))
    val base = df.select(id.as("doc_id"), tokens(text).as("__w"))
      .withColumn("__n", size(col("__w")))
    base.join(removed, Seq("doc_id"), "left")
      .withColumn("__rm", coalesce(col("__rm"), array().cast("array<int>")))
      .select(col("doc_id"), col("__n").as("n_tokens"),
        size(col("__rm")).as("n_removed"),
        array_join(filter(col("__w"),
          (t, j) => not(array_contains(col("__rm"), j))), " ").as("text_clean"))
  }
}
