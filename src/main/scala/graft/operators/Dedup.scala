package graft.operators

import graft.{Det, Memo, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact hash,
  * token-set Jaccard, n-gram-shingle Jaccard, SimHash, MinHash-LSH.
  *
  * 100 TB notes: exact dedup is one hash-shuffle (map-side partial agg
  * on the 256-bit key). The pairwise-Jaccard operators block on
  * language and prefilter on distinct-token-count ratio (jac ≥ t ⇒
  * min(n)/max(n) ≥ t), cutting the quadratic candidate set before any
  * set intersection runs; at real scale the LSH variants below replace
  * the quadratic step entirely — MinHash banding turns near-dup search
  * into an equi-join on band signatures, and SimHash reduces each doc
  * to one 60-bit integer joinable on rotated prefixes. Both are
  * shuffle-based with no driver-side state.
  */
object Dedup {

  private def toks(c: Column): Column = array_distinct(split(c, " "))

  /** Lineage truncation for iterative ops — see [[graft.Lineage]] for
    * the `spark.graft.checkpoint.dir` knob and the reliable-vs-local
    * checkpoint contract. */
  private[graft] def truncate(df: DataFrame): DataFrame = graft.Lineage.truncate(df)

  /** Exact-duplicate groups by sha256(text): group size + surviving
    * (minimum) doc_id per distinct text. */
  val dedupExact: Q = Q(
    "dedup_exact",
    Some(
      "SELECT sha256(text) AS text_sha, count(*) AS n_copies, min(doc_id) AS keeper " +
        "FROM documents GROUP BY 1 ORDER BY text_sha"
    ),
    (spark, dir) =>
      Tables
        .documents(spark, dir)
        .groupBy(sha2(col("text"), 256).as("text_sha"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
        .orderBy(col("text_sha"))
  )

  /** Near-duplicate pairs by distinct-token-set Jaccard ≥ 0.8 with
    * same-language blocking and the count-ratio prefilter (5·min ≥
    * 4·max, exact integer arithmetic). The Jaccard itself is a ratio of
    * small ints — bit-identical across engines. */
  val dedupNearJaccard: Q = Q(
    "dedup_near_jaccard",
    Some(
      "WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t FROM documents), " +
        "p AS (SELECT a.doc_id ida, b.doc_id idb, " +
        s"${oJac("a.t", "b.t")} AS jac " +
        "FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id " +
        s"AND ${oLenRatio("a.t", "b.t")}) " +
        "SELECT ida, idb, " + Det.oRN("jac", 6) + " AS jac FROM p WHERE jac >= 0.8 " +
        "ORDER BY ida, idb"
    ),
    // served from the materialized pair view (pairTablePath) — first
    // full-scope pair consumer per session pays the one-time build
    (spark, dir) => sharedPairs(spark, dir).select(col("ida"), col("idb"), col("jac"))
      .orderBy(col("ida"), col("idb"))
  )

  /** Unsorted jac ≥ 0.8 pair stream — shared by dedup_near_jaccard
    * (which adds the contract's total-order sort) and dedup_clusters
    * (which doesn't need one).
    *
    * Join on (lang, geometric count bucket) instead of lang alone:
    * lang has 5 values (5 skewed shuffle partitions at any scale);
    * jac ≥ 0.8 forces |A|,|B| within a 1.25× ratio, i.e. within ±1
    * bucket of the ⌊log₁.₂₅ n⌋ grid, so the probe side emits each doc
    * to exactly 3 buckets and the exact count band is re-applied as a
    * cheap integer filter after the join. (An earlier formulation
    * exploded every compatible partner COUNT — ~25 rows per doc at the
    * fixture's count distribution, each duplicating the hashed token
    * array through the exchange; the bucket grid shuffles 3 copies for
    * the identical pair set. Wall time at sf0.1 is parity (~3.8 s):
    * this fixture is a near-clique (759 k qualifying pairs), so the
    * per-pair merge scans dominate — the 8× exchange-volume cut is the
    * piece that compounds at 100 TB, where shuffle, not CPU, is the
    * first wall.
    * Boundary safety: a compatible pair can straddle at most one
    * bucket boundary — floor-monotonicity gives |Δbucket| ≤ 1 — and
    * ln(n)/ln(1.25) sits ≥ 10⁻⁷ from every integer for any integer n,
    * eight orders above double rounding error, so the ±1 emit covers
    * every band pair; DedupSpec pins pair-set equality vs the
    * unblocked formulation.)
    * Token sets are md5-hashed to longs and sorted ONCE per doc;
    * each pair then costs one codegen'd merge scan
    * (SortedLongIntersectCount) instead of array_intersect +
    * array_union allocations, and |A∪B| = na + nb - |A∩B|. */
  /** Shared DuckDB spellings of the exact token-set screen, used by
    * every oracle that restates the blocked Jaccard join — change the
    * blocking predicate or the Jaccard expression HERE and every
    * oracle stays in sync with the Spark path it validates. */
  private[operators] def oJac(a: String, b: String): String =
    s"len(list_intersect($a, $b))::DOUBLE / len(list_distinct($a || $b))"

  private[operators] def oLenRatio(a: String, b: String): String =
    s"5 * least(len($a), len($b)) >= 4 * greatest(len($a), len($b))"

  /** Sorted 60-bit md5 token-hash set of `text` — THE token identity
    * every exact-Jaccard path (pair manifest, containment, incremental
    * and streaming screens) must share; one spelling, one place. */
  private def hashedTokenSet: org.apache.spark.sql.Column =
    sort_array(transform(toks(col("text")), x =>
      conv(substring(md5(x), 1, 15), 16, 10).cast("long")))

  /** The per-doc hashed-token-set frame (doc_id, lang, t sorted 60-bit
    * md5 hashes, nt) every exact-Jaccard path starts from — factored
    * out so multi-screen queries ([[dedupLshRecallReport]]) tokenize
    * the corpus ONCE and share the frame (Lineage.truncate it) between
    * the truth join, the signature build and the exact-verify screen. */
  private[graft] def tokenizedDocs(
      spark: SparkSession,
      dir: String,
      docFilter: Column = lit(true),
      carry: Seq[String] = Nil
  ): DataFrame = {
    val hs = hashedTokenSet
    Tables
      .documents(spark, dir)
      .filter(docFilter) // structurally below the pair join: guaranteed scan-side prune
      .select(col("doc_id") +: col("lang") +: hs.as("t") +: size(hs).as("nt") +:
        carry.map(col): _*)
  }

  private[graft] def nearJaccardPairs(
      spark: SparkSession,
      dir: String,
      docFilter: Column = lit(true),
      carry: Seq[String] = Nil // doc columns to ride the pair shuffle as <c>_a/<c>_b
  ): DataFrame =
    nearJaccardPairsFrom(tokenizedDocs(spark, dir, docFilter, carry), carry)

  /** The geometric length-blocking key every exact-Jaccard join
    * shares: bucket by floor(log_{1.25} nt). Jac ≥ 0.8 forces
    * 0.8 ≤ na/nb ≤ 1.25, so partners live in the same or an adjacent
    * bucket — probe sides explode to ±1, pool sides keep their own. */
  private def bktCol: org.apache.spark.sql.Column =
    floor(log(col("nt").cast("double")) / math.log(1.25)).cast("int")

  /** THE blocked exact-Jaccard pair join — ONE spelling of the
    * blocking base, the ±1 bucket explode, the 4:5 length-ratio
    * prefilter, the codegen'd sorted-intersect, and the jac formula,
    * shared by the full manifest build ([[nearJaccardPairsFrom]],
    * probe == pool) and the incremental Δ ([[dedupPairsIncremental]],
    * probe = batch, pool = corpus ∪ batch). The
    * `manifest(t+1) = manifest(t) ∪ Δ` identity DedupSpec pins depends
    * on the two callers staying bit-identical, so the algebra must
    * live in exactly one place. Inputs are signature frames
    * (doc_id, lang, t, nt, bkt [, carry…]); output is unordered
    * (ida, idb, jac-unrounded [, carry_a/carry_b…]) — callers own
    * rounding, endpoint normalization and total order. */
  private def blockedJacPairsCore(
      probe: DataFrame,
      pool: DataFrame,
      pairKeep: org.apache.spark.sql.Column,
      carry: Seq[String]
  ): DataFrame = {
    import org.apache.spark.sql.graftx.SortedLongIntersectCount
    val a = probe.select(
      col("doc_id").as("ida") +:
        col("lang") +:
        col("t").as("ta") +:
        col("nt").as("na") +:
        explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("pb") +:
        carry.map(c => col(c).as(s"${c}_a")): _*
    )
    val b = pool.select(
      col("doc_id").as("idb") +:
        col("lang") +:
        col("t").as("tb") +:
        col("nt").as("nb") +:
        col("bkt").as("pb") +:
        carry.map(c => col(c).as(s"${c}_b")): _*
    )
    a.join(b, Seq("lang", "pb"))
      .filter(
        pairKeep &&
          lit(5) * least(col("na"), col("nb")) >= lit(4) * greatest(col("na"), col("nb"))
      )
      .withColumn("inter", SortedLongIntersectCount.count(col("ta"), col("tb")))
      // jac >= 0.8 spelled as the INTEGER 9*inter >= 4*(na+nb) so the
      // condition Catalyst pushes into the join evaluates the
      // sorted-intersect kernel ONCE per candidate instead of twice
      // (numerator + denominator of the double division). Same pair
      // set exactly: i/(na+nb-i) >= 0.8 <=> 9i >= 4(na+nb) on exact
      // integers, and no rational with denominator < ~1e15 lies
      // between 4/5 and double(0.8) — the ngramPairsGridOf argument.
      .filter(col("inter").cast("long") * 9 >= (col("na") + col("nb")).cast("long") * 4)
      .withColumn(
        "jac",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter"))
      )
  }

  /** The blocked exact-Jaccard pair join over an already-tokenized doc
    * frame — see [[nearJaccardPairs]] for the blocking rationale. */
  private[graft] def nearJaccardPairsFrom(dtok: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val d = dtok.withColumn("bkt", bktCol)
    blockedJacPairsCore(d, d, col("ida") < col("idb"), carry)
      .select(col("ida") +: col("idb") +: Det.rN(col("jac"), 6).as("jac") +:
        carry.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
  }

  /** Embedding-cosine near-duplicates: pairs whose feature-vector
    * cosine ≥ 0.85. The featurizer is a deterministic token-count
    * vector (the fixture embeddings are near-random by design — max
    * pairwise cosine ≈ 0.51 — so a threshold there is vacuous; a real
    * pipeline would slot model embeddings into the same plan). The
    * cosine is computed SPARSELY via an inverted-index self-join on
    * (lang, token) — dot = Σ cnt_a·cnt_b over shared tokens, norms
    * from one per-doc aggregate — never materializing dense vectors
    * or an all-pairs product.
    *
    * 100 TB notes: on a Zipfian vocabulary the posting lists are short
    * for almost all tokens and this join is near-linear; hot stop-word
    * tokens are the skew risk and get dropped by a df-cap in practice.
    * This fixture's 31-token vocabulary is ALL stop words (every
    * posting list is ~n_docs, Σcnt² blowup), so the verified scope is
    * bounded to doc_id < 500 — the LSH/banding operators above are the
    * scale path for such degenerate corpora. Determinism: integer dot
    * and squared norms are exact; sqrt/divide are IEEE on identical
    * inputs, so the ≥ threshold selects identical rows cross-engine. */
  val dedupEmbedCosine: Q = Q(
    "dedup_embed_cosine",
    Some(
      "WITH t AS (SELECT doc_id, lang, tok, count(*)::BIGINT AS n " +
        "FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok " +
        "FROM documents WHERE doc_id < 500) GROUP BY 1, 2, 3), " +
        "nrm AS (SELECT doc_id, sqrt(sum(n * n)) AS nrm FROM t GROUP BY 1), " +
        "dots AS (SELECT a.doc_id ida, b.doc_id idb, sum(a.n * b.n)::BIGINT AS d " +
        "FROM t a JOIN t b ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2), " +
        "c AS (SELECT ida, idb, d / (na.nrm * nb.nrm) AS cos FROM dots " +
        "JOIN nrm na ON na.doc_id = ida JOIN nrm nb ON nb.doc_id = idb) " +
        "SELECT ida, idb, " + Det.oRN("cos", 6) + " AS cos FROM c WHERE cos >= 0.85 " +
        "ORDER BY ida, idb"
    ),
    (spark, dir) => {
      val t = Tables
        .documents(spark, dir)
        .filter(col("doc_id") < 500)
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("lang"), col("tok"))
        .agg(count(lit(1)).as("n"))
      val nrm = t.groupBy(col("doc_id")).agg(sqrt(sum(col("n") * col("n"))).as("nrm"))
      val dots = t
        .select(col("doc_id").as("ida"), col("lang"), col("tok"), col("n").as("na"))
        .join(
          t.select(col("doc_id").as("idb"), col("lang"), col("tok"), col("n").as("nb")),
          Seq("lang", "tok")
        )
        .filter(col("ida") < col("idb"))
        .groupBy(col("ida"), col("idb"))
        .agg(sum(col("na") * col("nb")).as("d"))
      dots
        .join(broadcast(nrm.select(col("doc_id").as("ida"), col("nrm").as("nrma"))), Seq("ida"))
        .join(broadcast(nrm.select(col("doc_id").as("idb"), col("nrm").as("nrmb"))), Seq("idb"))
        .withColumn("cos", col("d") / (col("nrma") * col("nrmb")))
        .filter(col("cos") >= 0.85)
        .select(col("ida"), col("idb"), Det.rN(col("cos"), 6).as("cos"))
        .orderBy(col("ida"), col("idb"))
    }
  )

  /** Near-dup pairs on token-BIGRAM shingles (n-gram Jaccard): stricter
    * than token sets because it is order-sensitive. Bounded to doc_id <
    * 2000 per side to keep the verified output small — widened from 200
    * in r18 (VERDICT r17 #4): the 200-doc scope yielded ZERO pairs at
    * sf0.01/sf0.1, making the driver's hash-match vacuous there; 2000
    * yields 8/6/14 pairs at sf0.001/0.01/0.1 with the 0.6 threshold
    * unchanged.
    *
    * The widened scope also forced the join onto the engine's blocked
    * shape (the naive lang-only self-join took 13.9 s at sf0.1 — the
    * exact all-pairs anti-pattern the near-jaccard manifest avoids):
    * bigrams hash to 64-bit rolling-mix longs (never strings — see
    * [[bigramShingleDocs]]), docs bucket by
    * floor(log_{5/3} n_shingles), the probe side explodes to ±1
    * buckets, and the codegen'd sorted-intersect kernel scores
    * survivors. LOSSLESS for jac ≥ 0.6 — that threshold forces
    * 3·max(na,nb) ≤ 5·min(na,nb), so partners' bucket indices differ
    * by at most 1 and the 3:5 prefilter drops only pairs that cannot
    * reach 0.6. The DuckDB oracle keeps the direct all-pairs string
    * spelling: it DEFINES the semantics the blocked plan must
    * hash-match (same oracle-vs-blocked contract as
    * [[dedupNearJaccard]]; hash collisions are the same accepted
    * ~1e-12). Candidate-generation note (r19, measured in DuckDB at
    * sf0.1): a PPJoin-style prefix filter was evaluated as the
    * alternative blocking and REJECTED — on this 31-token vocabulary
    * the bigram space is dense, and prefix candidates measured 292 k
    * pairs vs the bucket grid's 246 k.
    *
    * Degenerate-pair rule (ADVICE r18): a doc with ZERO bigram shingles
    * (text of < 2 tokens) is excluded on BOTH sides — the engine's
    * `ns >= 1` filter and the oracle's `len(s) >= 1` CTE below define
    * the same semantics. Without the oracle-side filter the two
    * spellings diverge exactly when BOTH docs of a pair are
    * shingle-less: 0/0 is NaN, and DuckDB's total-order comparison
    * makes NaN >= 0.6 TRUE (the oracle would emit a pair the engine
    * drops). A shingle-less doc can never reach jac >= 0.6 against a
    * doc that HAS shingles (0/nb = 0), so the filter only removes the
    * NaN artifact, never a real pair. */
  /** The ngram row's per-doc signature frame (doc_id, lang, s = sorted
    * distinct 64-bit bigram hashes, ns, bkt).
    *
    * Bigram hashes are a ROLLING MIX over per-token xxhash64 — h(t1)
    * XOR rot13(h(t2)) — never materialized strings (r19, VERDICT r18
    * #6): the r18 spelling concatenated every bigram string and md5'd
    * it, and a stage-by-stage probe measured that build at 0.93 s of
    * the row's 1.76 s warm floor at sf0.1, PAID TWICE (once per join
    * side). The
    * mix is [[graft.operators.TextAnalysis.contamShinglesBuild]]'s
    * technique at n = 2 (its measured 7× there), and position
    * sensitivity is preserved (rot13 of the second token ≠ rot13 of
    * the first, so "a b" ≠ "b a"). The DuckDB oracle keeps exact
    * string bigrams — same accepted ~2^-45 different-shingle collision
    * story as the contamination family.
    *
    * FP safety of the base-5/3 bucket grid (ADVICE r18, same bound
    * pattern as the base-1.25 comment at bktCol): ln(n)/ln(5/3) sits
    * >= 4.0e-8 from every integer for 2 <= n <= 1e7 (measured
    * exhaustively; n = 1 is exactly 0 -> bucket 0, exact), seven
    * orders above double rounding error — floor() cannot flip a
    * bucket, so the ±1 probe explode stays lossless for jac >= 0.6. */
  private[graft] def bigramShingleDocsOf(docs: DataFrame): DataFrame = {
    def rot(c: Column, bits: Int): Column =
      shiftleft(c, bits).bitwiseOR(shiftrightunsigned(c, 64 - bits))
    val t  = split(col("text"), " ")
    val th = transform(t, tok => xxhash64(tok))
    val m  = greatest(size(t) - 1, lit(0)) // bigram count
    val mixed = zip_with(
      slice(th, lit(1), m),
      slice(th, lit(2), m),
      (a, b) => a.bitwiseXOR(rot(b, 13)))
    val sh = sort_array(array_distinct(mixed))
    docs
      .select(col("doc_id"), col("lang"), sh.as("s"))
      .withColumn("ns", size(col("s")))
      .filter(col("ns") >= 1) // a shingle-less doc can never reach jac >= 0.6
      .withColumn("bkt", floor(log(col("ns").cast("double")) / math.log(5.0 / 3.0)).cast("int"))
  }

  /** The ngram row's contract scope: `doc_id < 2000` (see the row's
    * scaladoc — shared with its oracle and the blocking probe). */
  private def ngramScopedDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(col("doc_id") < 2000)

  private[graft] def bigramShingleDocs(spark: SparkSession, dir: String): DataFrame =
    bigramShingleDocsOf(ngramScopedDocs(spark, dir))

  /** Distinct bigram STRINGS per doc (doc_id < 2000, the ngram row's
    * scope) with the cross-engine md5-derived 60-bit hash per shingle —
    * the PREFIX-FILTER side's signature universe. The hot row's
    * rolling-mix hashes are engine-only (xxhash64 mix — DuckDB cannot
    * reproduce them), so the prefix machinery, whose candidate set
    * DEPENDS on the global shingle order, orders by the md5 hash both
    * engines share; ns (distinct-shingle count) agrees with the mix
    * spelling modulo the accepted ~2^-45 collision story. */
  private def bigramPrefixRows(docs: DataFrame): DataFrame = {
    val t  = split(col("text"), " ")
    val m  = greatest(size(t) - 1, lit(0))
    val bg = array_distinct(zip_with(
      slice(t, lit(1), m),
      slice(t, lit(2), m),
      (a, b) => concat(a, lit(" "), b)))
    docs
      .select(col("doc_id"), col("lang"), explode(bg).as("s"))
      .withColumn("h", conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long"))
      .withColumn("ns", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
  }

  /** The per-doc PREFIX rows for jac ≥ 3/5: the first
    * ns − ⌈3·ns/5⌉ + 1 shingles in global (md5-hash) order. Lossless by
    * the standard prefix-filter lemma (Bayardo et al., WWW'07 /
    * PPJoin): a pair with jac ≥ t shares ≥ ⌈t·n⌉ elements with EITHER
    * side's n, and its smallest common element (in the shared global
    * order) must sit inside both docs' first n − ⌈t·n⌉ + 1 positions.
    * ⌈3n/5⌉ is exact INTEGER arithmetic ((3n + 4) div 5) — a
    * float-ceil of 0.6·n could round the prefix one short and silently
    * lose pairs. */
  private def bigramPrefixes(docs: DataFrame): DataFrame =
    bigramPrefixRows(docs)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("h"), col("s"))))
      .filter(col("rn") <= col("ns") - expr("(3 * ns + 4) div 5") + 1)
      .select(col("doc_id"), col("lang"), col("ns"), col("h"))

  /** The ONE spelling of the prefix-filter candidate join (r20
    * self-review: it was spelled verbatim in both the screen and the
    * probe, a silent-desync hazard for the band arithmetic): distinct
    * same-lang (ida < idb) pairs sharing a prefix element, with the
    * 3:5 count band composed in — exactly the pair set the kernel
    * verifies and the probe prices. */
  private def prefixCandidatePairs(p: DataFrame): DataFrame =
    p.select(col("doc_id").as("ida"), col("lang"), col("ns").as("na"), col("h"))
      .join(p.select(col("doc_id").as("idb"), col("lang"), col("ns").as("nb"), col("h")),
        Seq("lang", "h"))
      .filter(
        col("ida") < col("idb") &&
          lit(5) * least(col("na"), col("nb")) >= lit(3) * greatest(col("na"), col("nb")))
      .select(col("ida"), col("idb"))
      .distinct()

  /** WORK-VOLUME counts of the two blocking strategies for the ngram
    * screen, as one exact single-row frame — the shingle-space DENSITY
    * PROBE (VERDICT r19 #5) that turns SCALING.md's r19 prose decision
    * boundary into executable code, with the cost model each strategy
    * actually pays:
    *
    *   grid:   generate-and-verify exactly `grid_candidates` pairs —
    *           the (lang, 3:5 count band) block volume (the bucket
    *           condition is implied by the band, so the count is
    *           bucket-free, histogram-computable, cross-engine exact);
    *   prefix: an element-keyed join that MATERIALIZES
    *           `prefix_intermediate` rows (Σ C(df,2) over per-(lang,
    *           prefix-element) doc frequencies), dedups them to
    *           `prefix_candidates` distinct banded pairs, then verifies
    *           those.
    *
    * chosen = grid iff grid_candidates ≤ prefix_intermediate +
    * prefix_candidates. The distinct-candidate count ALONE is not a
    * decision metric: banded prefix candidates are a SUBSET of the band
    * pairs by construction, so that comparison would pick prefix on
    * every corpus — this corrects r19's prose rejection, which compared
    * an UNbanded prefix count (292k) against the banded grid (246k).
    * With the band composed in, the sf0.1 fixture measures prefix
    * 169,253 distinct candidates from 547,195 intermediate rows vs the
    * grid's 245,817 generate-and-verify — the dense bigram space
    * (≤ 31² shingles) makes every prefix element corpus-hot, so the
    * grid wins on total volume (a wall-clock A/B
    * corroborates: 1.43 s grid vs 1.1-1.5 s prefix across windows, a
    * wash — first-order model, kernel work per grid candidate costs
    * more than a hash-join intermediate row). On a sparse vocabulary
    * the intermediate collapses and prefix wins by orders of magnitude.
    * NgramBlockingSpec pins BOTH verdicts (the real fixture → grid; a
    * synthetic sparse corpus → prefix) plus pair-set equality of the
    * two full screens. */
  private[graft] def ngramBlockingCounts(docs: DataFrame): DataFrame = {
    // the prefix frame feeds every consumer here — the (doc, ns)
    // signature too, since every ns ≥ 1 doc has a non-empty prefix
    // (length n − ⌈3n/5⌉ + 1 ≥ 1) — so ONE truncated materialization
    // of the explode + md5 + per-doc rank pipeline serves the whole
    // probe instead of one re-derivation per reference (r20
    // self-review)
    val p = graft.Lineage.truncate(bigramPrefixes(docs))
    val sig = p
      .groupBy(col("doc_id"), col("lang"))
      .agg(max(col("ns")).as("ns"))
    val nDocs = sig.agg(count(lit(1)).as("n_docs"))
    // grid candidates are COUNTED from the (lang, ns) histogram, never
    // enumerated: same-count pairs contribute C(c,2), cross-count pairs
    // c(na)·c(nb) over the 3:5 band with na < nb — the probe touches
    // O(distinct counts²) histogram cells where enumerating would touch
    // every candidate pair it is trying to avoid generating
    val hist = sig.groupBy(col("lang"), col("ns")).agg(count(lit(1)).as("c"))
    // integer `div`, not Divide (ADVICE r20 #3): long/long promotes to
    // double, which silently loses exactness past 2^53 — a histogram
    // cell of ~9.5e7 docs would make the "exact" count drift. c(c−1)
    // is always even, so the integral quotient is the true C(c,2).
    val same = hist.select(expr("(c * (c - 1)) div 2").cast("long").as("pairs"))
    val cross = hist.select(col("lang"), col("ns").as("na"), col("c").as("ca"))
      .join(hist.select(col("lang"), col("ns").as("nb"), col("c").as("cb")), Seq("lang"))
      .filter(col("na") < col("nb") && lit(5) * col("na") >= lit(3) * col("nb"))
      .select((col("ca") * col("cb")).cast("long").as("pairs"))
    val grid = same.union(cross).agg(coalesce(sum(col("pairs")), lit(0L)).as("grid_candidates"))
    // the prefix join's materialized volume, from the SAME histogram
    // trick as the grid count — the probe never enumerates what it is
    // costing out
    val inter = p.groupBy(col("lang"), col("h")).agg(count(lit(1)).as("c"))
      .select(expr("(c * (c - 1)) div 2").cast("long").as("pairs")) // integer div, see `same`
      .agg(coalesce(sum(col("pairs")), lit(0L)).as("prefix_intermediate"))
    val pfx = prefixCandidatePairs(p).agg(count(lit(1)).as("prefix_candidates"))
    nDocs
      .crossJoin(broadcast(grid)) // bounded: every side is ONE row
      .crossJoin(broadcast(inter))
      .crossJoin(broadcast(pfx))
  }

  /** Strategy selector over the probe: the blocking a deployment picks
    * at ingest for a given corpus snapshot, by the total-work model in
    * [[ngramBlockingCounts]]'s scaladoc. Grid wins ties — it is
    * lossless at any vocabulary and needs no prefix build. */
  private[graft] def chooseNgramBlocking(docs: DataFrame): String = {
    val r = ngramBlockingCounts(docs).head()
    if (r.getLong(1) <= r.getLong(2) + r.getLong(3)) "bucket_grid" else "prefix_filter"
  }

  /** The FULL prefix-filter screen — the alternative blocking's
    * end-to-end twin of [[dedupNgramJaccard]]'s grid path, producing
    * the identical (ida, idb, jac) pair set when selected: prefix
    * candidates (above), then the exact codegen'd sorted-intersect
    * kernel over the per-doc hash arrays. Candidates join back to the
    * signature arrays by doc key (two broadcast-size joins at probe
    * scope; key-partitioned at corpus scale). */
  private[graft] def ngramPairsPrefix(spark: SparkSession, dir: String): DataFrame =
    ngramPairsPrefixOf(ngramScopedDocs(spark, dir))

  private[graft] def ngramPairsPrefixOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftx.SortedLongIntersectCount
    val d = bigramShingleDocsOf(docs)
    // the candidate join reads the prefix frame twice — materialize it
    // once (same truncate rationale as the probe's)
    val cand = prefixCandidatePairs(graft.Lineage.truncate(bigramPrefixes(docs)))
    cand
      .join(d.select(col("doc_id").as("ida"), col("s").as("sa"), col("ns").as("na")), Seq("ida"))
      .join(d.select(col("doc_id").as("idb"), col("s").as("sb"), col("ns").as("nb")), Seq("idb"))
      .withColumn("inter", SortedLongIntersectCount.count(col("sa"), col("sb")))
      // integer spelling of jac >= 0.6 — see ngramPairsGridOf
      .filter(col("inter").cast("long") * 8 >= (col("na") + col("nb")).cast("long") * 3)
      .withColumn("jac", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .select(col("ida"), col("idb"), Det.rN(col("jac"), 6).as("jac"))
  }

  /** The density probe as a driver-visible, oracle-checked row: one
    * summary row naming the three work volumes and the selected
    * blocking. On this fixture the verdict is bucket_grid at every SF
    * (dense bigram space, 31-token vocabulary — the prefix join's
    * intermediate dominates); a sparse corpus flips it to prefix_filter
    * (NgramBlockingSpec's synthetic fixture pins that arm). The HOT row
    * ([[dedupNgramJaccard]]) keeps the grid unconditionally: the probe
    * is an ingest-time, once-per-snapshot decision — folding two corpus
    * passes into every query run would pay the probe forever to
    * re-learn a constant. */
  val dedupNgramBlockingProbe: Q = Q(
    "dedup_ngram_blocking_probe",
    Some(
      "WITH d0 AS (SELECT doc_id, lang, list_distinct(list_filter(" +
        "list_transform(list_zip(string_split(text, ' '), string_split(text, ' ')[2:]), " +
        "x -> x[1] || ' ' || x[2]), v -> v IS NOT NULL)) AS sb " +
        "FROM documents WHERE doc_id < 2000), " +
        "d AS (SELECT doc_id, lang, len(sb) AS ns, sb FROM d0 WHERE len(sb) >= 1), " +
        "grid AS (SELECT count(*) AS gc FROM d a JOIN d b ON a.lang = b.lang " +
        "AND a.doc_id < b.doc_id " +
        "AND 5 * least(a.ns, b.ns) >= 3 * greatest(a.ns, b.ns)), " +
        "ph AS (SELECT doc_id, lang, ns, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h, s " +
        "FROM (SELECT doc_id, lang, ns, unnest(sb) AS s FROM d)), " +
        "pfx AS (SELECT doc_id, lang, ns, h FROM (SELECT doc_id, lang, ns, h, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY h, s) AS rn FROM ph) " +
        "WHERE rn <= ns - ((3 * ns + 4) // 5) + 1), " +
        "pint AS (SELECT cast(coalesce(sum((c * (c - 1)) // 2), 0) as bigint) AS pi " +
        "FROM (SELECT lang, h, count(*) AS c FROM pfx GROUP BY 1, 2)), " +
        "pc AS (SELECT count(*) AS pc FROM (SELECT DISTINCT a.doc_id, b.doc_id " +
        "FROM pfx a JOIN pfx b ON a.lang = b.lang AND a.h = b.h AND a.doc_id < b.doc_id " +
        "AND 5 * least(a.ns, b.ns) >= 3 * greatest(a.ns, b.ns))) " +
        "SELECT (SELECT cast(count(*) as bigint) FROM d) AS n_docs, " +
        "cast(gc as bigint) AS grid_candidates, " +
        "cast(pi as bigint) AS prefix_intermediate, " +
        "cast(pc as bigint) AS prefix_candidates, " +
        "CASE WHEN gc <= pi + pc THEN 'bucket_grid' ELSE 'prefix_filter' END AS chosen " +
        "FROM grid, pint, pc"
    ),
    (spark, dir) =>
      ngramBlockingCounts(ngramScopedDocs(spark, dir))
        .select(
          col("n_docs"),
          col("grid_candidates"),
          col("prefix_intermediate"),
          col("prefix_candidates"),
          when(col("grid_candidates") <= col("prefix_intermediate") + col("prefix_candidates"),
            "bucket_grid").otherwise("prefix_filter").as("chosen"))
  )

  val dedupNgramJaccard: Q = Q(
    "dedup_ngram_jaccard",
    Some(
      "WITH d0 AS (SELECT doc_id, lang, list_distinct(list_filter(" +
        "list_transform(list_zip(string_split(text, ' '), string_split(text, ' ')[2:]), " +
        "x -> x[1] || ' ' || x[2]), v -> v IS NOT NULL)) AS s " +
        "FROM documents WHERE doc_id < 2000), " +
        "d AS (SELECT * FROM d0 WHERE len(s) >= 1), " +
        "p AS (SELECT a.doc_id ida, b.doc_id idb, " +
        s"${oJac("a.s", "b.s")} AS jac " +
        "FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id) " +
        "SELECT ida, idb, " + Det.oRN("jac", 6) + " AS jac FROM p WHERE jac >= 0.6 " +
        "ORDER BY ida, idb"
    ),
    (spark, dir) => ngramPairsGridOf(ngramScopedDocs(spark, dir)).orderBy(col("ida"), col("idb"))
  )

  /** The grid screen over ANY docs frame — the hot row's body, shared
    * with NgramBlockingSpec's synthetic fixtures. Unsorted. */
  private[graft] def ngramPairsGridOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftx.SortedLongIntersectCount
    val d = bigramShingleDocsOf(docs)
    val a = d.select(
      col("doc_id").as("ida"), col("lang"), col("s").as("sa"), col("ns").as("na"),
      explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("pb"))
    val b = d.select(
      col("doc_id").as("idb"), col("lang"), col("s").as("sb"), col("ns").as("nb"),
      col("bkt").as("pb"))
    a.join(b, Seq("lang", "pb"))
      .filter(
        col("ida") < col("idb") &&
          lit(5) * least(col("na"), col("nb")) >= lit(3) * greatest(col("na"), col("nb")))
      .withColumn("inter", SortedLongIntersectCount.count(col("sa"), col("sb")))
      // jac >= 0.6 spelled as the INTEGER 8*inter >= 3*(na+nb): the
      // double spelling pushed into the join condition evaluated the
      // merge-intersect kernel TWICE per candidate pair (numerator and
      // denominator) — the kernel is the candidate scan's whole cost.
      // Exactly the same pair set: i/(u) >= 0.6 <=> 8i >= 3(na+nb) on
      // exact integers, and no rational with denominator < ~1e15 lies
      // between double(0.6) and 3/5, so the IEEE comparison can never
      // disagree with the exact one (equality at exactly 3/5 agrees:
      // both engines' division then yields double(0.6) itself).
      .filter(col("inter").cast("long") * 8 >= (col("na") + col("nb")).cast("long") * 3)
      .withColumn("jac", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .select(col("ida"), col("idb"), Det.rN(col("jac"), 6).as("jac"))
  }

  /** 60-bit SimHash per document from md5-derived token hashes: for
    * each bit, sum ±1 contributions over distinct tokens; the sign
    * becomes the bit. Pure integer arithmetic — identical in DuckDB.
    * At scale, near-dups are found by joining on rotated simhash
    * prefixes (Hamming ≤ k); here the verified artifact is the
    * signature itself. */
  val dedupSimhash: Q = Q(
    "dedup_simhash",
    Some(
      "WITH tok AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h " +
        "FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents)), " +
        "bits AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s " +
        "FROM tok CROSS JOIN (SELECT unnest(range(60)) AS b) GROUP BY doc_id, b) " +
        "SELECT doc_id, cast(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) as bigint) AS simhash " +
        "FROM bits GROUP BY doc_id ORDER BY doc_id"
    ),
    (spark, dir) => simhashFrame(spark, dir).orderBy(col("doc_id"))
  )

  /** (doc_id, simhash) for the whole corpus — shared by both simhash
    * rows. ONE partial-aggregating groupBy with 60 bit-counter columns
    * instead of exploding every token row ×60 bit positions into a
    * (doc, b)-keyed aggregate: the token stream flows straight into a
    * map-side combine (60 ints per doc per partition), where the ×60
    * explode materialized |tokens|·60 intermediate rows first. Sums of
    * ±1 integers are exact under any grouping, so the signatures — and
    * both rows' oracles — are bit-identical to the exploded spelling. */
  private def simhashBuild(spark: SparkSession, dir: String): DataFrame =
    simhashOf(Tables.documents(spark, dir))

  /** The 60-bit simhash transform over ANY docs frame with
    * (doc_id, text) — a per-document aggregate (group key = doc_id, so
    * each doc's signature depends on its own tokens alone), which is
    * what makes the table micro-batch-maintainable
    * ([[graft.streaming.StreamDemos.streamedSimhashSigTable]] runs
    * literally this per batch and merges by doc_id). */
  private[graft] def simhashOf(docs: DataFrame): DataFrame = {
    val bitSums = (0 until 60).map(b =>
      sum(when(expr(s"(h >> $b) & 1") === 1, 1).otherwise(-1)).as(s"s$b"))
    docs
      .select(col("doc_id"), explode(toks(col("text"))).as("t"))
      .select(col("doc_id"), conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(
        col("doc_id"),
        (0 until 60)
          .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _)
          .cast("long")
          .as("simhash")
      )
  }

  /** Write-once (doc_id, simhash) signature table — [[graft.ViewStore]]
    * discipline, the ninth serving view: a 60-bit simhash is a pure
    * per-document function (the same ingest-product argument as the
    * minhash and token-set signature tables), so both simhash rows
    * scan 8 bytes per doc from parquet instead of re-paying the token
    * explode + 60-counter aggregate per run. No per-session path memo
    * (r11, all ten view families): `materialize` re-resolves per call
    * from the state-keyed fingerprint memo, so a regenerated dir is
    * picked up MID-session and no (SparkSession, dir) map accretes for
    * the JVM lifetime — a hit costs one dir listing + exists check. */
  private[graft] def simhashSigTablePath(spark: SparkSession, dir: String): String =
    graft.ViewStore.materialize(spark, "graft_simhash_sigs", dir)(simhashBuild(spark, dir))

  private def simhashFrame(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(simhashSigTablePath(spark, dir))

  /** Banded SimHash pair screen — the pair-level member the signature
    * query above feeds: 60-bit simhashes split into 4 × 15-bit bands,
    * candidates = pairs agreeing on ANY band (equi-join, never
    * quadratic), then the EXACT Hamming ≤ 3 filter via
    * bit_count(xor). The banding is LOSSLESS here by pigeonhole — a
    * pair within Hamming 3 differs in ≤ 3 bands, so at least one of
    * the 4 matches exactly — which is why this query is hash-checkable
    * while the minhash screen below is not: nothing about it is
    * approximate.
    *
    * Determinism: signatures are exact integer majorities
    * ([[dedupSimhash]]); band keys, xor, and popcount are integer ops.
    *
    * 100 TB: one shuffle on the band key; bucket skew mirrors
    * signature clustering (a saturated bucket means the corpus IS a
    * near-clique at that prefix — cap-and-report like the minhash
    * banding if it bites). */
  val dedupSimhashPairs: Q = Q(
    "dedup_simhash_pairs",
    Some(
      "WITH tok AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h " +
        "FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents)), " +
        "bits AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s " +
        "FROM tok CROSS JOIN (SELECT unnest(range(60)) AS b) GROUP BY doc_id, b), " +
        "sg AS (SELECT doc_id, cast(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) as bigint) " +
        "AS simhash FROM bits GROUP BY doc_id), " +
        "k AS (SELECT doc_id, simhash, bi, (simhash >> (15 * bi)) & 32767 AS bv " +
        "FROM sg CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS bi)), " +
        "p AS (SELECT DISTINCT a.doc_id AS ida, a.simhash AS sa, c.doc_id AS idb, c.simhash AS sb " +
        "FROM k a JOIN k c ON a.bi = c.bi AND a.bv = c.bv AND a.doc_id < c.doc_id) " +
        "SELECT ida, idb, cast(bit_count(xor(sa, sb)) as bigint) AS hamming " +
        "FROM p WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY ida, idb"
    ),
    (spark, dir) => {
      val sg = simhashFrame(spark, dir)
      val k = sg
        .select(col("doc_id"), col("simhash"), explode(array((0 until 4).map(lit): _*)).as("bi"))
        .withColumn("bv", expr("(simhash >> (15 * bi)) & 32767"))
      val pairs = k
        .select(col("bi"), col("bv"), col("doc_id").as("ida"), col("simhash").as("sa"))
        .join(
          k.select(col("bi"), col("bv"), col("doc_id").as("idb"), col("simhash").as("sb")),
          Seq("bi", "bv")
        )
        // Hamming screen BEFORE the distinct (r21): the popcount-of-xor
        // is a per-row integer op evaluated map-side in the join's
        // codegen span, while distinct is a full shuffle of its input —
        // filtering first shrinks the exchange from every band
        // collision (a pair can collide in up to 4 bands) to survivors
        // only. A pair passes or fails the screen identically in every
        // band it collides in (the test reads only sa/sb), so
        // filter∘distinct ≡ distinct∘filter here and the oracle keeps
        // the distinct-first spelling.
        .filter(col("ida") < col("idb") && bit_count(expr("sa ^ sb")) <= 3)
        .select(col("ida"), col("sa"), col("idb"), col("sb"))
        .distinct()
      pairs
        .withColumn("hamming", bit_count(expr("sa ^ sb")).cast("long"))
        .select(col("ida"), col("idb"), col("hamming"))
        .orderBy(col("ida"), col("idb"))
    }
  )

  /** MinHash-LSH near-dup candidates — now ORACLE-CHECKED, not just
    * property-tested: the signature pipeline is pure integer algebra
    * (md5-derived 32-bit token hash reduced mod p, 8 affine
    * permutations `(a·h+b) mod p`, per-doc minima, 4×2 band keys), so
    * DuckDB can replay it bit-exactly and the estimated-Jaccard output
    * hash-matches. `lazy` because the oracle is generated from the
    * MinhashA/B constant tables declared below. This is the 100 TB
    * near-dup path: 8 minhash values per doc, banded 4×2 — candidates
    * are an EQUI-JOIN on (band, 2-hash key), never a quadratic
    * compare. Bands of r=2 matter on this corpus: with a 31-word
    * vocabulary a single minhash takes ≤31 values, so 1-wide bands
    * would put ~3% of the corpus in every bucket (spark.ml's
    * MinHashLSH does exactly that and its approxSimilarityJoin ran
    * 443 s at sf0.1 — this formulation runs the same scale in
    * seconds). Estimated Jaccard = signature agreement fraction;
    * recall vs exact Jaccard stays property-tested in DedupSpec; the
    * exact-Jaccard twin is dedup_near_jaccard. The 0.8 threshold is
    * safe cross-engine: estimates are exact eighths, and no eighth
    * lies between the two engines' spellings of the 0.8 boundary. */
  /** Shared oracle CTE chain replaying the md5+affine minhash banding
    * for ONE geometry (ends in `mhcand$sfx(ida, idb, ej)`) — used by
    * [[dedupMinhashLsh]], [[dedupMinhashLsh16]] and
    * [[dedupLshRecallReport]]. `sfx` uniquifies the CTE names so two
    * geometries can coexist in one oracle statement. */
  private def minhashOracleCtes(aArr: Array[Long], bArr: Array[Long], sfx: String): String = {
    val p  = MinhashP
    val nH = aArr.length
    val mcols = aArr.indices
      .map(i => s"min((hv * ${aArr(i)} + ${bArr(i)}) % $p) AS m$i")
      .mkString(", ")
    val allM = aArr.indices.map(i => s"m$i").mkString(", ")
    val bands = (0 until nH / 2)
      .map(j => s"SELECT doc_id, $allM, $j AS band, m${2 * j} * $p + m${2 * j + 1} AS bk FROM m$sfx")
      .mkString(" UNION ALL ")
    val agree = aArr.indices.map(i => s"(a.m$i = c.m$i)::INT").mkString(" + ")
    s"t$sfx AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
      s"FROM documents WHERE doc_id < $ClusterProbeScope), " +
      s"h$sfx AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % $p AS hv FROM t$sfx), " +
      s"m$sfx AS (SELECT doc_id, $mcols FROM h$sfx GROUP BY doc_id), " +
      s"bnd$sfx AS ($bands), " +
      s"ok$sfx AS (SELECT band, bk FROM bnd$sfx GROUP BY band, bk HAVING count(*) <= 2000), " +
      s"mhcand$sfx AS (SELECT a.doc_id AS ida, c.doc_id AS idb, ($agree)::DOUBLE / $nH AS ej " +
      s"FROM bnd$sfx a JOIN ok$sfx USING (band, bk) JOIN bnd$sfx c USING (band, bk) " +
      "WHERE a.doc_id < c.doc_id)"
  }

  lazy val dedupMinhashLsh: Q = Q(
    "dedup_minhash_lsh",
    Some(
      s"WITH ${minhashOracleCtes(MinhashA, MinhashB, "")} " +
        s"SELECT DISTINCT ida, idb, ${Det.oRN("ej", 6)} AS est_jac " +
        "FROM mhcand WHERE ej >= 0.8 ORDER BY ida, idb"
    ),
    (spark, dir) => minhashPairs(spark, dir, 0.2).orderBy(col("ida"), col("idb"))
  )

  /** 16-permutation 8×2 twin of [[dedupMinhashLsh]] — the geometry knob
    * the r7 recall audit asked for: twice the signature width halves
    * the estimator's variance (σ = √(s(1−s)/16) ≈ 0.10 at s = 0.8 vs
    * 0.14 at 8 perms), and 8 bands of r = 2 raise the band-hit
    * probability at s = 0.8 from 1−(1−s²)⁴ ≈ 0.83 to 1−(1−s²)⁸ ≈ 0.97.
    * Same integer-algebra pipeline, same bucket cap, hash-checked the
    * same way; [[dedupLshRecallReport]] quantifies both geometries side
    * by side. Cost: 2× the signature columns through the band shuffle —
    * still 8 longs + key per doc·band, never text. */
  lazy val dedupMinhashLsh16: Q = Q(
    "dedup_minhash_lsh16",
    Some(
      s"WITH ${minhashOracleCtes(MinhashA16, MinhashB16, "")} " +
        s"SELECT DISTINCT ida, idb, ${Det.oRN("ej", 6)} AS est_jac " +
        "FROM mhcand WHERE ej >= 0.8 ORDER BY ida, idb"
    ),
    (spark, dir) => minhashPairs(spark, dir, 0.2, MinhashA16, MinhashB16).orderBy(col("ida"), col("idb"))
  )

  /** Recall/precision audit of the banded MinHash screen against
    * exact-Jaccard truth on the identical scope — the governance
    * number a dedup deployment quotes ("this screen catches X % of
    * true jac ≥ 0.8 pairs, at Y % precision"), and the dedup twin of
    * sim_ann_recall_report: the audit itself is a deterministic,
    * hash-checked query, not a notebook afterthought. One row per
    * SCREEN CONFIGURATION, so geometry choices are graded side by
    * side in one artifact:
    *
    *  - `8perm_4x2_est80`: the original 8-perm screen thresholded on
    *    its own estimate — recall is capped near P(est ≥ 0.8) ≈ 0.5
    *    for pairs at the boundary (binomial noise on 8 agreements);
    *  - `16perm_8x2_est80`: double-width signature, same threshold —
    *    narrower estimator, more bands, higher recall at ~2× cost;
    *  - `16perm_8x2_verified`: the PRODUCTION shape — band membership
    *    alone proposes candidates (hit prob 1−(1−s²)⁸ ≈ 0.97 at
    *    s = 0.8), then the exact Jaccard is computed on the bounded
    *    candidate set; precision is 1 by construction and recall is
    *    the banding hit rate (DedupSpec asserts ≥ 0.9).
    *
    * Truth comes from the blocked exact-pair join
    * ([[nearJaccardPairs]], scoped to the same doc_id < 2000 probe
    * set the minhash paths use); one full-outer join per row
    * classifies hits/misses/false-positives.
    *
    * Determinism: all pair sets are hash-checked deterministic (their
    * own registry rows / the same algebra); counts are exact; the two
    * ratios are single IEEE divisions, trunc-rounded.
    *
    * 100 TB: the exact side exists only because the probe scope makes
    * it computable — at corpus scale this report runs on a SAMPLED
    * scope (the standard recall-estimation protocol): the scope is a
    * real parameter of [[lshRecallFrame]], and DedupSpec runs the
    * whole report at a hash-sampled second scope. The verified row's
    * exact-Jaccard pass is candidate-bounded (cap 2000 per bucket),
    * which is also the production dedup path itself: screen by bands,
    * verify exactly, never all-pairs. */
  lazy val dedupLshRecallReport: Q = Q(
    "dedup_lsh_recall_report",
    Some {
      def block(tag: String, candSql: String): String =
        s"SELECT '$tag' AS geometry, cast(sum(in_truth) as bigint) AS n_truth, " +
          "cast(sum(in_cand) as bigint) AS n_cand, " +
          "cast(sum(in_truth * in_cand) as bigint) AS n_hit, " +
          // 0.0-on-empty guards mirror the engine's when() exactly: a
          // corpus with zero truth (or zero candidate) pairs is legal,
          // and an unguarded 0/0 here reads NaN in DuckDB where the
          // engine's non-ANSI Divide reads NULL (ADVICE r13 class)
          Det.oRN("CASE WHEN sum(in_truth) = 0 THEN 0.0 ELSE " +
            "sum(in_truth * in_cand)::DOUBLE / sum(in_truth) END", 6) + " AS recall, " +
          Det.oRN("CASE WHEN sum(in_cand) = 0 THEN 0.0 ELSE " +
            "sum(in_truth * in_cand)::DOUBLE / sum(in_cand) END", 6) + " AS prec " +
          s"FROM (SELECT (p.ida IS NOT NULL)::INT AS in_truth, (c.ida IS NOT NULL)::INT AS in_cand " +
          s"FROM p FULL JOIN ($candSql) c ON p.ida = c.ida AND p.idb = c.idb) j"
      s"WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t " +
        s"FROM documents WHERE doc_id < $ClusterProbeScope), " +
        "p AS (SELECT a.doc_id AS ida, b.doc_id AS idb FROM d a JOIN d b " +
        "ON a.lang = b.lang AND a.doc_id < b.doc_id " +
        s"AND ${oLenRatio("a.t", "b.t")} " +
        s"WHERE ${oJac("a.t", "b.t")} >= 0.8), " +
        s"${minhashOracleCtes(MinhashA, MinhashB, "g8")}, " +
        s"${minhashOracleCtes(MinhashA16, MinhashB16, "g16")} " +
        block("8perm_4x2_est80", "SELECT DISTINCT ida, idb FROM mhcandg8 WHERE ej >= 0.8") +
        " UNION ALL " +
        block("16perm_8x2_est80", "SELECT DISTINCT ida, idb FROM mhcandg16 WHERE ej >= 0.8") +
        " UNION ALL " +
        block(
          "16perm_8x2_verified",
          "SELECT DISTINCT mh.ida, mh.idb FROM mhcandg16 mh " +
            "JOIN d da ON da.doc_id = mh.ida JOIN d db ON db.doc_id = mh.idb " +
            s"WHERE da.lang = db.lang AND ${oJac("da.t", "db.t")} >= 0.8"
        ) +
        " ORDER BY geometry"
    },
    (spark, dir) => lshRecallFrame(spark, dir, col("doc_id") < ClusterProbeScope)
  )

  /** The recall-report frame at an ARBITRARY truth scope — the contract
    * row pins `doc_id < ClusterProbeScope`; at 100 TB the same frame
    * runs with a hash-SAMPLED scope (e.g.
    * `pmod(xxhash64(doc_id), 100) = 0`) — the standard sampled-recall
    * protocol the scaladoc above describes, exercised end-to-end by
    * DedupSpec at a second scope so the demo bound is provably a knob,
    * not a load-bearing constant. */
  /** The three audited screen geometries — one source of truth for the
    * candidate tagging AND the fixed-tag left-join that guarantees every
    * screen reports a row (the oracle's block names must match these). */
  private val Geometries = Seq("8perm_4x2_est80", "16perm_8x2_est80", "16perm_8x2_verified")

  private[graft] def lshRecallFrame(spark: SparkSession, dir: String, scope: Column): DataFrame = {
    // Since r10 NOTHING in this report tokenizes the corpus: minhash
    // signatures come from the write-once ViewStore parquet, exact
    // pairs come from the pair manifest, and the scope is just an id
    // list projected off the documents scan (pushed-filter, one
    // column). r9 tokenized once and truncated three frames; r8
    // tokenized three times.
    val ids = Tables.documents(spark, dir).filter(scope).select(col("doc_id"))
    // truth = the EXACT jac >= 0.8 pairs inside the scope, reused by
    // all three report rows. Served from the materialized pair
    // manifest restricted to the scope — lossless (per-doc blocking:
    // pair candidacy and exact Jaccard never depend on which other
    // docs are in scope), and INDEPENDENT of what's being audited:
    // the manifest is the blocked exact-intersect join, the screens
    // under audit are the MinHash geometries. The scope predicate is
    // an opaque per-doc Column, so the restriction is two semi-joins
    // against the scoped id list (broadcast-sized) rather than a
    // re-screen of the scoped corpus. Truncated so the manifest scan +
    // semi-joins run once, not four times (three report blocks + the
    // verified screen's exact side).
    val truth = graft.Lineage.truncate(
      sharedPairs(spark, dir)
        .join(broadcast(ids.select(col("doc_id").as("ida"))), Seq("ida"), "left_semi")
        .join(broadcast(ids.select(col("doc_id").as("idb"))), Seq("idb"), "left_semi")
        .select(col("ida"), col("idb"))
        .withColumn("in_truth", lit(1))
    )
    // ONE compiled aggregate for all three screens (r11): each screen's
    // candidate pairs are tagged with their geometry and unioned BELOW
    // a single groupBy(geometry) — the r10 shape built three
    // near-identical full_outer + aggregate subplans (one per screen)
    // whose codegen compile was the slowest row's residual (~1.5 s of
    // the 5.3 s driver number against a 3.45 s min-of-N). The union's
    // three subtrees still evaluate concurrently inside one job (the
    // property the negative persist() A/B protects), the join with
    // truth is one broadcast hash join streamed map-side, and the
    // aggregate compiles once (BenchRepeat A/B: min-of-6 3.45 -> 3.06,
    // second-run 5.06 -> 4.65). Counting algebra is unchanged:
    // n_cand = |cand| (each screen dropDuplicates its pairs),
    // n_hit = |cand INTERSECT truth| via the in_truth flag, and
    // n_truth = |truth| rides in as a broadcast 1-row frame — the r10
    // full_outer's truth-only rows only ever contributed to that
    // constant. (A geometry whose screen proposes ZERO candidates still
    // reports a row — see the fixed-tag left-join below.)
    // THIRD negative A/B, recorded so it isn't re-tried: deriving both
    // 16-perm geometries from ONE shared banded-candidates pass
    // (dedup ALL candidates with est, conditional sums in the
    // aggregate — saves a whole sig16 band join, no persist()) was
    // SLOWER (min-of-6 5.09 vs 3.06): the est80 screen loses its
    // map-side est cut before the dedup exchange, and on this
    // near-clique corpus the un-thresholded candidate dedup costs more
    // than the band join it saves.
    // The 16-wide signature table is served from the write-once
    // ViewStore parquet (minhashSigTablePath) restricted to the scope —
    // a MATERIALIZED view needs no truncate (r10: this replaced the
    // third eager-truncate boundary, a rebuild-from-tokens + reliable
    // checkpoint write, with a plain scan + broadcast semi-join; each
    // eager truncate is a serial job boundary, the scaladoc history
    // measured 5.9 → 8.9 s when overdone). The 8-perm screen is the
    // m0..m7 projection (the constants are a prefix — see MinhashA16).
    // The banded pair sets derived from it are deliberately lazy:
    // the three-screen union lets the band joins run concurrently
    // inside one job. Scope restriction is a semi-join on the
    // broadcast-sized scoped id list, NOT a re-derivation — lossless
    // because signatures are per-doc (scope-invariant), and the
    // persisted build excludes zero-token docs exactly as the
    // from-tokens build did (DedupSpec pins build equality).
    val sig16 = spark.read
      .parquet(minhashSigTablePath(spark, dir))
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
    val sig8  = sig16.select(col("doc_id") +: (0 until MinhashA.length).map(i => col(s"m$i")): _*)
    // The two 16-perm screens are deliberately INDEPENDENT lazy
    // subtrees, not a shared persist()ed candidate set: sharing was
    // A/B-measured SLOWER (min-of-5 4.2 → 5.6 s at sf0.1/32) — the
    // cache materialization serializes what the lazy three-screen
    // union otherwise runs concurrently inside one job, and the
    // est-threshold screen loses its map-side cut before the dedup
    // shuffle.
    // verified: ALL banded 16-perm pairs (maxDist = 1.0 disables the
    // estimate threshold), intersected with the EXACT jac >= 0.8 pair
    // set. By definition the verified screen IS banded ∩ exact, and
    // the exact side inside the scope is precisely `truth` (jac >= 0.8
    // forces the length-ratio block, and lang is a blocking key of
    // both the manifest and the inline verification it replaced) — so
    // one broadcast semi-join against the already-truncated truth
    // frame supplants the r9 shape, which re-joined the candidate set
    // against two token-array sides and walked a codegen'd sorted
    // intersect per candidate (min-of-5 3.8 → 3.4 s at sf0.1/32, and
    // it removes the report's last tokenization dependency).
    // NOT circular, same argument as the truth side: the manifest is
    // the hash-verified blocked exact-intersect join, the thing under
    // audit is the banding — and the DuckDB oracle recomputes BOTH
    // sides from raw text, so the driver compare still proves the
    // manifest path bit-equal to inline exact verification.
    def tagged(tag: String, cand: DataFrame): DataFrame =
      cand.select(lit(tag).as("geometry"), col("ida"), col("idb"))
    val verified = minhashPairsFromSig(sig16, MinhashA16.length, 1.0)
      .join(broadcast(truth.select(col("ida"), col("idb"))), Seq("ida", "idb"), "left_semi")
    val cands = tagged(Geometries(0),
        minhashPairsFromSig(sig8, MinhashA.length, 0.2).select(col("ida"), col("idb")))
      .unionAll(tagged(Geometries(1),
        minhashPairsFromSig(sig16, MinhashA16.length, 0.2).select(col("ida"), col("idb"))))
      .unionAll(tagged(Geometries(2), verified))
    val nTruth = truth.agg(count(lit(1)).cast("long").as("n_truth"))
    val perGeo = cands
      .join(broadcast(truth), Seq("ida", "idb"), "left_outer")
      .na.fill(0, Seq("in_truth"))
      .groupBy(col("geometry"))
      .agg(
        count(lit(1)).cast("long").as("n_cand"),
        sum(col("in_truth")).cast("long").as("n_hit")
      )
    // An audit must not FAIL OPEN: on a degenerate scope where a screen
    // proposes zero candidates, the groupBy would silently omit that
    // geometry's row instead of reporting recall 0. Left-joining the
    // three fixed geometry tags guarantees a row per screen always
    // (n_cand=0/recall=0 when empty); on any scope with candidates the
    // join is the identity, so the contract row's values and hash are
    // unchanged. The zero-guards on recall/prec only fire on the
    // degenerate scopes (0/0 would otherwise emit null, not 0).
    import spark.implicits._
    val geoTags = Geometries.toDF("geometry")
    geoTags
      .join(perGeo, Seq("geometry"), "left_outer")
      .na.fill(0L, Seq("n_cand", "n_hit"))
      // Deliberate 1-row-build BroadcastNestedLoopJoin Cross: attaching
      // the single n_truth stats row to 3 report rows — constant-size by
      // construction, NOT the unbounded cartesian the registry-wide plan
      // gate bans (that gate matches CartesianProduct, not this).
      .crossJoin(broadcast(nTruth))
      .select(
        col("geometry"),
        col("n_truth"),
        col("n_cand"),
        col("n_hit"),
        Det.rN(
          when(col("n_truth") === 0, lit(0.0))
            .otherwise(col("n_hit").cast("double") / col("n_truth")), 6).as("recall"),
        Det.rN(
          when(col("n_cand") === 0, lit(0.0))
            .otherwise(col("n_hit").cast("double") / col("n_cand")), 6).as("prec")
      )
      .orderBy(col("geometry"))
  }

  private val MinhashP = 2147483647L // 2^31 - 1 (prime); keys fit a long: p^2 < 2^63
  private[graft] val MinhashA = Array(787L, 1543L, 3079L, 6151L, 12289L, 24593L, 49157L, 98317L)
  private[graft] val MinhashB = Array(97L, 193L, 389L, 769L, 1579L, 3109L, 6247L, 12503L)
  // 16-perm geometry = the 8-perm constants extended (first 8 signatures
  // shared); a·h stays < 2^56 with h < p, so the affine form never overflows
  private[graft] val MinhashA16 =
    MinhashA ++ Array(196613L, 393241L, 786433L, 1572869L, 3145739L, 6291469L, 12582917L, 25165843L)
  private[graft] val MinhashB16 =
    MinhashB ++ Array(25013L, 50021L, 100003L, 200003L, 400009L, 800011L, 1600033L, 3200003L)

  /** Candidate pairs with estimated Jaccard ≥ 1 - maxDist.
    *
    * Caveats measured on this corpus: near-dups permute token order, so
    * signatures hash the token SET (bigram shingles lose all recall);
    * and the corpus is a near-clique (759k true pairs among 5k docs at
    * sf0.1), so candidate generation is inherently quadratic-ish in the
    * clique — the probe scope is bounded to doc_id < [[ClusterProbeScope]]
    * (SHARED with the exact-pair path so dedup_lsh_recall_report always
    * compares identical scopes) and buckets
    * larger than 2000 are dropped (an oversized bucket is a band that
    * says "everything matches everything" — no signal, unbounded join
    * cost; the cap bounds any bucket's contribution at scale). */
  /** Per-doc minhash signature table (doc_id, m0..m{nH−1}) for one
    * permutation family, PROBE-SCOPED — the reference build the specs
    * pin the persisted table and the shiftright derivation against,
    * and the fallback [[minhashPairs]] takes for a non-contract
    * permutation family. The contract geometries are served from the
    * write-once [[minhashSigTablePath]] parquet instead. */
  private[graft] def minhashSignatures(
      spark: SparkSession,
      dir: String,
      permA: Array[Long],
      permB: Array[Long]
  ): DataFrame = {
    // 32-bit md5-derived token hash, reduced mod p so a*h+b never overflows
    val hs = transform(toks(col("text")), x =>
      conv(substring(md5(x), 1, 8), 16, 10).cast("long") % MinhashP
    )
    // The signature lives as nH FLAT long columns (m0..), never an
    // array: the band join's cartesian expansion inside each bucket
    // copies every output row, and flat primitives keep that copy and
    // the agreement scoring in whole-stage codegen with zero array
    // headers or element_at indirection per candidate.
    val mcols = permA.indices.map { i =>
      array_min(transform(col("hs"), h => (h * permA(i) + permB(i)) % MinhashP)).as(s"m$i")
    }
    Tables
      .documents(spark, dir)
      .filter(col("doc_id") < ClusterProbeScope)
      .select(col("doc_id"), hs.as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id") +: mcols: _*)
  }

  /** Signature table derived from the SHARED tokenized frame instead of
    * a fresh corpus scan: the 60-bit hashes in `t` are
    * conv(substr(md5,1,15)) and the signature hash is
    * conv(substr(md5,1,8)) % p — the first 8 hex digits are exactly the
    * top 32 of the 60 bits, so `shiftright(h, 28) % p` reproduces
    * [[minhashSignatures]]' values bit-for-bit with zero re-hashing
    * (DedupSpec pins the equality). This is what lets
    * [[dedupLshRecallReport]] pay ONE tokenization for truth, screens
    * and exact-verify alike. */
  private[graft] def minhashSignaturesFromTokens(
      dtok: DataFrame,
      permA: Array[Long],
      permB: Array[Long]
  ): DataFrame = {
    val mcols = permA.indices.map { i =>
      array_min(
        transform(col("t"), h => ((shiftright(h, 28) % MinhashP) * permA(i) + permB(i)) % MinhashP)
      ).as(s"m$i")
    }
    dtok.filter(size(col("t")) > 0).select(col("doc_id") +: mcols: _*)
  }

  /** FULL-CORPUS 16-wide minhash signature build — [[minhashSignatures]]
    * without the probe-scope bound, what the [[minhashSigTablePath]]
    * materialization runs once per corpus snapshot. At 100 TB this is
    * the signature half of every MinHash deployment: tokenize + permute
    * at INGEST, persist (doc_id, m0..m15), and every screen, audit and
    * incremental probe thereafter is a parquet scan — the corpus text
    * is never re-read. */
  private def minhashSignaturesAll(spark: SparkSession, dir: String): DataFrame =
    minhashSignaturesOf(Tables.documents(spark, dir))

  /** The 16-wide signature transform over ANY docs frame with
    * (doc_id, text) — a pure per-document function, shared by the
    * view build, the incremental screen's batch side and the
    * streaming ingest screen (the [[signaturesOf]] /
    * [[graft.operators.TextAnalysis.bm25PostingsOf]] pattern: one
    * stateless projection, every ingest path runs literally it). */
  private[graft] def minhashSignaturesOf(docs: DataFrame): DataFrame = {
    val hs = transform(toks(col("text")), x =>
      conv(substring(md5(x), 1, 8), 16, 10).cast("long") % MinhashP
    )
    val mcols = MinhashA16.indices.map { i =>
      array_min(transform(col("hs"), h => (h * MinhashA16(i) + MinhashB16(i)) % MinhashP)).as(s"m$i")
    }
    docs
      .select(col("doc_id"), hs.as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id") +: mcols: _*)
  }

  /** Write-once FULL-CORPUS 16-wide minhash signature table —
    * [[graft.ViewStore]] discipline (input-fingerprinted path, race-safe
    * rename), same serving story as [[sigTablePath]]'s exact-Jaccard
    * signatures. [[MinhashA16]]/[[MinhashB16]] EXTEND the 8-perm
    * constants, so this one table serves BOTH contract geometries
    * (dedup_minhash_lsh reads the m0..m7 projection — bit-identical to
    * a fresh 8-perm build) AND the recall audit's three screens; before
    * r10 each consumer re-paid the tokenize + permutation scan (or, for
    * the two contract rows, a per-JVM driver collect that accreted in
    * long-lived sessions — the r9 `sig16Cache` nit, now gone; since r11
    * not even a path string is memoized per session — [[simhashSigTablePath]]'s
    * rationale). Consumers apply their
    * scope as a filter/semi-join that prunes at the parquet scan. */
  private[graft] def minhashSigTablePath(spark: SparkSession, dir: String): String =
    graft.ViewStore.materialize(spark, "graft_minhash_sigs", dir)(
      minhashSignaturesAll(spark, dir))

  /** The persisted 16-wide signature table restricted to the contract
    * probe scope — what the two contract LSH rows screen. The doc_id
    * predicate prunes at the parquet scan (min/max row-group stats). */
  private def sig16Frame(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .parquet(minhashSigTablePath(spark, dir))
      .filter(col("doc_id") < ClusterProbeScope)

  private[graft] def minhashPairs(
      spark: SparkSession,
      dir: String,
      maxDist: Double,
      permA: Array[Long] = MinhashA,
      permB: Array[Long] = MinhashB
  ): DataFrame = {
    // Both contract geometries are prefixes of the persisted 16-wide
    // table; any OTHER permutation family falls back to a fresh build.
    val fromCache =
      if (permA.sameElements(MinhashA16) && permB.sameElements(MinhashB16)) Some(sig16Frame(spark, dir))
      else if (permA.sameElements(MinhashA) && permB.sameElements(MinhashB))
        Some(sig16Frame(spark, dir).select(col("doc_id") +: MinhashA.indices.map(i => col(s"m$i")): _*))
      else None
    minhashPairsFromSig(
      fromCache.getOrElse(minhashSignatures(spark, dir, permA, permB)),
      permA.length,
      maxDist
    )
  }

  /** The banded-and-capped candidate join for a signature table with
    * nH minhash columns — nH/2 bands of r=2, bucket-capped at 2000 —
    * shared by the thresholded screen and the all-candidates path. */
  private def minhashBandJoin(docs: DataFrame, nH: Int): DataFrame = {
    // nH/2 bands of r=2: band key packs two 31-bit minhashes into one long
    val banded = docs.select(
      col("doc_id") +: (0 until nH).map(i => col(s"m$i")) :+
        explode(array((0 until nH / 2).map { j =>
          struct(
            lit(j).as("band"),
            (col(s"m${2 * j}") * MinhashP + col(s"m${2 * j + 1}")).as("key")
          )
        }: _*)).as("bk"): _*
    )
    // bucket_n needs only bk — project before the groupBy so the count
    // aggregation shuffles one packed-key column, not doc_id + 8
    // minhash columns (the join side still carries them; the agg side
    // never needed them)
    val capped = banded.join(
      banded.select(col("bk")).groupBy(col("bk")).agg(count(lit(1)).as("bucket_n"))
        .filter(col("bucket_n") <= 2000),
      Seq("bk")
    )
    val a = capped.select(col("bk") +: col("doc_id").as("ida") +: (0 until nH).map(i => col(s"m$i").as(s"ma$i")): _*)
    val b = capped.select(col("bk") +: col("doc_id").as("idb") +: (0 until nH).map(i => col(s"m$i").as(s"mb$i")): _*)
    a.join(b, Seq("bk")).filter(col("ida") < col("idb"))
  }

  /** The per-candidate agreement count — exact integers; est = k/nH. */
  private def agreeOf(nH: Int): Column =
    (0 until nH)
      .map(i => when(col(s"ma$i") === col(s"mb$i"), 1).otherwise(0))
      .reduce(_ + _)

  /** Banded candidate pairs from a signature table with nH minhash
    * columns — nH/2 bands of r=2. */
  private[graft] def minhashPairsFromSig(docs: DataFrame, nH: Int, maxDist: Double): DataFrame = {
    // est_jac is computed and thresholded MAP-SIDE, right after the band
    // join, so the dedup shuffle moves three narrow columns for the few
    // surviving pairs — not every candidate with two signatures.
    // UNSORTED output: every consumer either joins/aggregates the pair
    // set (the recall report's three screens — a global sort there was
    // pure waste, re-exchanged away by the downstream hash join) or adds
    // the contract ORDER BY itself (the two dedup_minhash_lsh rows).
    // maxDist >= 1 means "band membership alone proposes" (the verified
    // screen): skip the agreement scoring entirely — the estimate would
    // be computed per candidate and then compared against 0.
    val joined = minhashBandJoin(docs, nH)
    if (maxDist >= 1.0)
      joined.select(col("ida"), col("idb")).dropDuplicates("ida", "idb")
    else {
      // Integer threshold (r22, the r21 jaccard-screen move): est is an
      // exact k/nH, so the double compare `k/nH >= 1-maxDist` partitions
      // the k range at one integer boundary — found here by replaying
      // THE SAME double compare for each k (equivalence by construction,
      // no rational-gap argument needed). Candidates then pay one int
      // compare; the division + 6-dp rounding run only for survivors.
      val kMin = (0 to nH)
        .find(k => k.toDouble / nH >= 1.0 - maxDist)
        .getOrElse(nH + 1)
      joined
        .withColumn("agree", agreeOf(nH))
        .filter(col("agree") >= kMin)
        .select(col("ida"), col("idb"),
          Det.rN(col("agree").cast("double") / nH, 6).as("est_jac"))
        .dropDuplicates("ida", "idb")
    }
  }

  /** Near-dup CLUSTERS: connected components over the jac ≥ 0.8 pair
    * graph, labeled by the minimum doc_id in each component — the step
    * that turns pairwise near-dup hits into "keep one survivor per
    * cluster". Spark side runs iterative min-label propagation (one
    * shuffle per round; near-clique components converge in ~3 rounds,
    * O(diameter) in general — the scalable alternative to collecting
    * edges for union-find). Oracle: recursive-CTE transitive closure.
    * is_survivor marks the cluster representative. */
  /** Oracle SQL for the cluster labeling (no outer ORDER BY) — shared
    * by dedup_clusters and the dedup_report capstone below. */
  /** Clustering probe scope: the connected-components stage (and the
    * report built on it) runs over documents with `doc_id <
    * ClusterProbeScope`. This is an EXPLICIT demo bound, not a hidden
    * cap: this fixture corpus is a near-clique (SURVEY §1.2 /
    * bench-lessons), so the jac ≥ 0.8 edge set grows ~quadratically
    * with docs and an unbounded run measures edge-list blowup, not the
    * algorithm. At production scale the pair stream comes from the LSH
    * banding path (bounded buckets) instead and this knob is removed —
    * see SCALING.md "Clustering probe scope". The same bound appears in
    * the DuckDB oracle so correctness is checked on the identical
    * scope, and it caps the label table at ≤ ClusterProbeScope rows,
    * which is what makes the memoized collect below safe. */
  private[graft] val ClusterProbeScope = 2000L

  private val clustersOracleBody: String = {
    val pairs =
      "WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t " +
        s"FROM documents WHERE doc_id < $ClusterProbeScope), " +
        "p AS (SELECT a.doc_id ida, b.doc_id idb, " +
        s"${oJac("a.t", "b.t")} AS jac " +
        "FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id " +
        s"AND ${oLenRatio("a.t", "b.t")}), " +
        "e AS (SELECT ida, idb FROM p WHERE jac >= 0.8), "
    "WITH RECURSIVE " + pairs.stripPrefix("WITH ") +
      "sym AS (SELECT ida AS a, idb AS b FROM e UNION SELECT idb, ida FROM e), " +
      "reach(x, y) AS (SELECT a, b FROM sym UNION " +
      "SELECT r.x, s.b FROM reach r JOIN sym s ON r.y = s.a WHERE s.b != r.x), " +
      "lbl AS (SELECT x AS doc_id, least(x, min(y)) AS cluster FROM reach GROUP BY x) " +
      "SELECT doc.doc_id, coalesce(lbl.cluster, doc.doc_id) AS cluster, " +
      "coalesce(lbl.cluster, doc.doc_id) = doc.doc_id AS is_survivor " +
      "FROM documents doc LEFT JOIN lbl ON doc.doc_id = lbl.doc_id " +
      s"WHERE doc.doc_id < $ClusterProbeScope"
  }

  val dedupClusters: Q = Q(
    "dedup_clusters",
    Some(clustersOracleBody + " ORDER BY doc.doc_id"),
    (spark, dir) => clustersFrame(spark, dir).orderBy(col("doc_id")),
    memoizes = true // clusterCache: a second run serves the label memo
  )

  /** Unsorted (doc_id, cluster, is_survivor) labeling — shared by
    * dedup_clusters (adds the contract sort) and dedup_report (joins
    * back to documents for the per-language curation summary).
    *
    * Memoized per (manifest view path, scope): both consumers run in the
    * same Verify/Bench session, and without the cache dedup_report re-pays
    * the full iterative clustering dedup_clusters just ran (~7.5 s each
    * at sf0.1). The cache holds COLLECTED values, not a DataFrame: the
    * label table is ≤ ClusterProbeScope rows by construction (tiny),
    * and a cached plan would pin localCheckpoint/persist blocks that
    * Bench's inter-query block cleanup legitimately drops. Rebuilding a
    * LocalRelation from values is immune to that and broadcast-joins
    * for free. */
  // Keyed on (pair-manifest VIEW PATH, scope), not the SparkSession:
  // the manifest path already encodes (input fingerprint, buildVersion),
  // so an input regeneration invalidates mechanically, a second session
  // over the same corpus reuses correctly (labels are a deterministic
  // function of the manifest), and — the r11 lesson the path memos
  // taught — no SparkSession is ever strongly retained by an
  // object-lifetime cache.
  private[graft] val clusterCache =
    new Memo[(String, Long), Seq[(Long, Long, Boolean)]]("dedup.clusterCache")

  /** `scope` bounds the clustered corpus to `doc_id < scope`. The
    * registry rows pin the default [[ClusterProbeScope]] (shared with
    * their oracles); DedupSpec runs a second, smaller scope end-to-end
    * against a driver-side union-find oracle, proving the demo bound is
    * a real knob of the algorithm, not a load-bearing constant. */
  private[graft] def clustersFrame(
      spark: SparkSession,
      dir: String,
      scope: Long = ClusterProbeScope
  ): DataFrame = {
    val labels = clusterCache((pairTablePath(spark, dir), scope)) {
      computeClusterLabels(spark, dir, scope)
    }
    spark.createDataFrame(labels).toDF("doc_id", "cluster", "is_survivor")
  }

  /** The actual distributed clustering: iterative min-label propagation
    * with pointer doubling over the blocked jac ≥ 0.8 pair graph. */
  private def computeClusterLabels(
      spark: SparkSession,
      dir: String,
      scope: Long
  ): Seq[(Long, Long, Boolean)] = {
    {
      // probe scope bounded like dedup_minhash_lsh: the corpus is a
      // near-clique, so the edge set grows ~quadratically with docs.
      // Edges come from the materialized pair MANIFEST restricted to
      // the scope — exactly the full-scope jac ≥ 0.8 pair set with
      // both endpoints in scope. The restriction is lossless: blocking
      // is per-doc (lang, token-count bucket), so whether a pair is a
      // candidate — and its exact Jaccard — never depends on which
      // OTHER docs are in scope (DedupSpec pins view-restricted ==
      // directly-screened at a second scope). This is also the 100 TB
      // shape: clustering consumes the pair manifest the screens
      // already wrote, it does not re-screen the corpus.
      val edges = scopedManifestPairs(spark, dir, scope)
      val docs = Tables.documents(spark, dir)
        .filter(col("doc_id") < scope)
        .select(col("doc_id"))
      // collect is bounded: ≤ ClusterProbeScope label rows (see cache doc)
      ccLabels(edges, docs)
        .select(
          col("doc_id"),
          col("cluster"),
          (col("cluster") === col("doc_id")).as("is_survivor")
        )
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSeq
    }
  }

  /** The CC core shared by the scoped probe ([[computeClusterLabels]])
    * and the full-manifest best-of-cluster keeper
    * ([[bestOfClusterDroppedFrame]]): one Borůvka-style star-contraction
    * round, then iterative min-label propagation with pointer doubling
    * over the CONTRACTED quotient graph. Seeded from `seeds` (one
    * doc_id column — a node absent from every edge keeps its own id as
    * label). Returns the converged (doc_id, cluster) frame,
    * un-collected.
    *
    * The contraction (r20): every edge endpoint first merges with
    * min(self, min neighbor) — ONE aggregate over the symmetrized edge
    * list. Connectivity-preserving for any graph (each node merges
    * with a neighbor), and label-exact: the component's min-id node m
    * is its own supernode (m < every neighbor), every supernode id is
    * a member doc_id, so the quotient graph's min-label IS the
    * component min. On this near-clique fixture it collapses the
    * 759k-edge full manifest to a few hundred quotient edges, so the
    * per-iteration joins run on the quotient, not the raw edge list —
    * the bestkeep keeper compute dropped ~6.4 → ~2 s memo-cleared at
    * sf0.1, and the same round is the standard first step of
    * distributed CC at 100 TB (each round is one aggregate + one
    * projection; add rounds before the loop if the quotient is still
    * large). */
  private def ccLabels(
      edges: DataFrame,
      seeds: DataFrame,
      recontract: Boolean = false): DataFrame = {
    // symmetrize via explode, NOT union(edges, edges.reversed): a
    // union would run the edge derivation once per branch. NOT
    // checkpointed (r20): both consumers (l0, ce) are one linear pass
    // over it, and materializing the 2×|edges| rows (1.5M at sf0.1
    // full-manifest) cost more than the two recomputes — only the
    // CONTRACTED frames below, which the iterative loop re-joins,
    // are worth a checkpoint.
    val sym = edges
      .select(explode(array(
        struct(col("ida").as("a"), col("idb").as("b")),
        struct(col("idb").as("a"), col("ida").as("b"))
      )).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    // star contraction: endpoint -> min(self, min neighbor); bounded
    // by the node count, so the checkpoint is cheap and cuts the
    // explode out of every downstream lineage
    val l0 = truncate(
      sym.groupBy(col("a"))
        .agg(least(col("a"), min(col("b"))).as("c0"))
        .select(col("a").as("doc_id"), col("c0")))
    // quotient edges between distinct supernodes (dedup'd — the raw
    // multiplicity is exactly what the contraction exists to shed)
    val ce = truncate(
      sym
        .join(broadcast(l0.select(col("doc_id").as("a"), col("c0").as("pa"))), Seq("a"))
        .join(broadcast(l0.select(col("doc_id").as("b"), col("c0").as("pb"))), Seq("b"))
        .filter(col("pa") =!= col("pb"))
        .select(col("pa").as("a"), col("pb").as("b"))
        .distinct())
    // ADAPTIVE extra contraction rounds on the quotient before the
    // loop (r22): each round is the SAME label-exact connectivity-
    // preserving merge, applied to the previous round's quotient —
    // supernode ids are member doc_ids at every level, so the composed
    // labels stay the component minima. Only CALLERS that may feed a
    // large graph opt in (recontract = the full-manifest keeper path):
    // the scoped probe rows' quotients are a few hundred edges by
    // construction, and even the GATE's count job (one cheap job over
    // the just-checkpointed quotient) measured as a visible ~0.05–0.1 s
    // tax on those sub-second rows in the closing bench — caller
    // knowledge is free, a runtime probe is not. With the gate, a
    // round only runs while the quotient exceeds the threshold.
    // Interleaved A/B at sf0.1/32, min/median of 5: bestkeep 3.04/3.18
    // (round 2: 1988 → 56 edges) vs 3.34/3.58; forcing round 2 on the
    // scoped rows regressed them ~+0.3 s each.
    val maxRounds = if (recontract) 3 else 1
    val minEdges = 1024L
    // outermost (coarsest) level first: the unwind below maps labels
    // from the top quotient back down to doc_ids
    var levelMaps = List(l0)
    var q = ce
    var round = 1
    var qn = -1L
    if (round < maxRounds) {
      qn = q.count()
      System.err.println(s"[cc] round $round quotient edges=$qn")
    }
    while (round < maxRounds && qn > minEdges) {
      // q is already symmetric (sym fed both orientations through the
      // contraction map; distinct kept both), so no re-symmetrize
      val ln = truncate(
        q.groupBy(col("a"))
          .agg(least(col("a"), min(col("b"))).as("c0"))
          .select(col("a").as("doc_id"), col("c0")))
      q = truncate(
        q
          .join(broadcast(ln.select(col("doc_id").as("a"), col("c0").as("pa"))), Seq("a"))
          .join(broadcast(ln.select(col("doc_id").as("b"), col("c0").as("pb"))), Seq("b"))
          .filter(col("pa") =!= col("pb"))
          .select(col("pa").as("a"), col("pb").as("b"))
          .distinct())
      levelMaps = ln :: levelMaps
      round += 1
      if (round < maxRounds) {
        qn = q.count()
        System.err.println(s"[cc] round $round quotient edges=$qn")
      }
    }
    val topSeeds = levelMaps.head.select(col("c0").as("doc_id")).distinct()
    var labels = ccLoop(q, topSeeds)
    // unwind: each level's node label = its supernode's converged
    // label; nodes whose supernode is absent (no edge at that level)
    // keep their own id via the left-join coalesce
    for (lm <- levelMaps) {
      labels = lm
        .join(broadcast(labels.select(col("doc_id").as("c0"), col("cluster"))),
          Seq("c0"), "left")
        .select(col("doc_id"), coalesce(col("cluster"), col("c0")).as("cluster"))
    }
    seeds
      .join(broadcast(labels), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"))
  }

  /** The iterative min-label half of [[ccLabels]], over an already
    * SYMMETRIC (a, b) edge frame (both orientations present — the
    * quotient edges are built from the symmetrized list) and its node
    * set. */
  private def ccLoop(edgeFrame: DataFrame, seeds: DataFrame): DataFrame = {
    val sym = truncate(edgeFrame) // materialized once; every iteration joins it
    var labels = seeds.select(col("doc_id"), col("doc_id").as("cluster"))
    var converged = false
    var iter = 0
    while (!converged && iter < 20) {
      // labels is bounded by the seed count (≤ ClusterProbeScope for
      // the scoped probe; the dup-graph endpoint set for the keeper
      // path) — broadcast it so the big edge list never shuffles;
      // only the narrow (a, nbr_min) aggregate exchanges. The hint is
      // needed because the checkpointed inputs carry no stats for AQE
      // to discover this. At unbounded corpus scale (labels = all
      // docs) drop the hint and this reverts to the shuffle-join CC
      // shape.
      val nbrMin = sym
        .join(broadcast(labels), col("b") === col("doc_id"))
        .groupBy(col("a"))
        .agg(min(col("cluster")).as("nbr_min"))
      // stepped carries prev alongside the propagated label so the
      // convergence check below is a flag scan, not another join.
      // persist (lazy), don't truncate (eager): the only consumer is
      // the pointer-doubling self-join inside next's materialization
      // job — both sides of that join fill/read the same cached
      // partitions in ONE job, where an eager checkpoint here would
      // cost a whole extra job per round.
      val stepped = labels
        .join(nbrMin, col("doc_id") === col("a"), "left")
        .select(
          col("doc_id"),
          col("cluster").as("prev"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("c1")
        )
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // pointer doubling: follow the label's label, collapsing chain
      // components in O(log diameter) rounds instead of O(diameter)
      val next = truncate(
        stepped
          .join(
            broadcast(stepped.select(col("doc_id").as("ld"), col("c1").as("lc"))),
            col("c1") === col("ld"),
            "left"
          )
          .select(
            col("doc_id"),
            least(col("c1"), coalesce(col("lc"), col("c1"))).as("cluster"),
            (least(col("c1"), coalesce(col("lc"), col("c1"))) =!= col("prev")).as("moved")
          )
      ) // truncate the growing iterative lineage (reliable when a ckpt dir is set)
      stepped.unpersist(blocking = false) // next is materialized; the cache is dead weight
      val changed = next.filter(col("moved")).count() // scan of the materialized step, no join
      labels = next.select(col("doc_id"), col("cluster"))
      converged = changed == 0
      iter += 1
    }
    // Non-convergence guard (ADVICE r20 #1): contraction + pointer
    // doubling makes 20 rounds cover astronomical diameters, but a
    // pathological graph that still hasn't converged at the cap would
    // otherwise emit partially-propagated labels indistinguishable
    // from correct ones — and those labels feed correctness rows
    // (dedup_clusters, the bestkeep drop set). Fail loudly instead.
    if (!converged)
      throw new IllegalStateException(
        s"ccLoop: min-label propagation still moving after $iter iterations — " +
          "refusing to emit non-converged cluster labels")
    labels
  }

  /** Best-of-cluster DROP set over the FULL pair manifest — the keeper
    * policy the composed corpus build's `_bestkeep` variant applies
    * (VERDICT r19 #1): cluster the jac ≥ 0.8 dup graph (same iterative
    * CC as [[dedupClusters]], seeded from the manifest's ENDPOINTS
    * only — a doc with no near-dup pair never enters the computation),
    * keep the highest-quality member per cluster (n_chars desc, doc_id
    * tiebreak — [[dedupBestOfCluster]]'s rule, via the map-side-heap
    * TopKPerGroup operator), and return every other endpoint as
    * dropped.
    *
    * 100 TB: the input is the persisted manifest (never a re-screen);
    * CC touches only dup-graph endpoints, the keeper argmax moves one
    * row per cluster. The drop set stays a doc-keyed FRAME the whole
    * way (r21, VERDICT r20 #1): this returns the `labels ⟕anti
    * keepers` anti-join as an UNCOLLECTED one-column (doc_id) frame,
    * and the bestkeep corpus build joins THAT — no driver-side collect
    * and no LocalRelation of collected ids anywhere in the composed
    * plan, so the shape survives a duplicate-heavy corpus where the
    * endpoint set is O(corpus). Only DedupSpec's union-find oracle
    * collects it, to compare whole drop sets driver-side.
    *
    * Checkpointed before return so the consumer's plan reads one
    * materialized LogicalRDD instead of re-deriving the manifest scan
    * + CC lineage per reference (the iterative CC is eager anyway —
    * the truncate adds one tiny job over the already-computed
    * labels). */
  private[graft] def bestOfClusterDroppedFrame(
      spark: SparkSession, dir: String): DataFrame = {
    val pairs = spark.read
      .parquet(pairTablePath(spark, dir))
      .select(col("ida"), col("idb"))
    val endpoints = pairs
      .select(explode(array(col("ida"), col("idb"))).as("doc_id"))
      .distinct()
    val labels = ccLabels(pairs, endpoints, recontract = true)
    val withChars = labels.join(
      Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
      Seq("doc_id"))
    val keepers = org.apache.spark.sql.graftx
      .TopKPerGroup(withChars, Seq("cluster"), Seq("n_chars" -> true, "doc_id" -> false), 1)
      .select(col("doc_id"))
    graft.Lineage.truncate(
      labels.select(col("doc_id")).join(keepers, Seq("doc_id"), "left_anti"))
  }

  /** The curation capstone: what the dedup stage did to the corpus,
    * per language — docs in, survivors kept, near-dup copies dropped,
    * characters saved. This is the summary a 100 TB training-data
    * pipeline reports after its dedup pass; it composes the full
    * cluster labeling with one broadcast-side join back to documents
    * and a 5-group aggregate. Determinism: all counts are exact ints;
    * kept_ratio is one IEEE division of identical longs, trunc-rounded. */
  val dedupReport: Q = Q(
    "dedup_report",
    Some(
      // sums cast to BIGINT: DuckDB types bare sum() as HUGEINT, which
      // arrives Arrow-side as decimal128 and fails the driver's
      // type-sensitive hash against Spark's int64 (same values).
      "SELECT d.lang, count(*) AS n_docs, " +
        "cast(sum(CASE WHEN c.is_survivor THEN 1 ELSE 0 END) as bigint) AS n_kept, " +
        "cast(sum(CASE WHEN c.is_survivor THEN 0 ELSE 1 END) as bigint) AS n_dropped, " +
        "cast(sum(CASE WHEN c.is_survivor THEN 0 ELSE d.n_chars END) as bigint) AS chars_saved, " +
        Det.oRN("sum(CASE WHEN c.is_survivor THEN 1 ELSE 0 END)::DOUBLE / count(*)", 6) +
        " AS kept_ratio " +
        "FROM (" + clustersOracleBody + ") c " +
        "JOIN documents d ON c.doc_id = d.doc_id " +
        "GROUP BY d.lang ORDER BY d.lang"
    ),
    (spark, dir) => {
      val cl = clustersFrame(spark, dir)
      val docs = Tables
        .documents(spark, dir)
        .filter(col("doc_id") < ClusterProbeScope)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      docs
        .join(cl, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("is_survivor"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("is_survivor"), 0L).otherwise(1L)).as("n_dropped"),
          sum(when(col("is_survivor"), 0L).otherwise(col("n_chars"))).as("chars_saved"),
          Det.rN(
            sum(when(col("is_survivor"), 1L).otherwise(0L)).cast("double") / count(lit(1)),
            6
          ).as("kept_ratio")
        )
        .orderBy(col("lang"))
    },
    memoizes = true // shares clusterCache with dedup_clusters
  )

  /** Soft dedup: instead of DROPPING near-dup copies, DOWN-WEIGHT
    * them — each doc's training weight is tokens/cluster_size, so a
    * cluster of n copies contributes one doc's worth of signal spread
    * over its members (the downweight-not-delete strategy used when
    * removal would bias the mixture). Output per source: raw vs
    * effective token counts and the dedup discount — the number a
    * mixture planner feeds into its per-source sampling temperature.
    *
    * Scale shape: reuses the memoized cluster labels (a LocalRelation,
    * broadcast for free) + a |clusters|-row size table; the corpus scan
    * computes token counts map-side and the per-source rollup is one
    * partial aggregate. Determinism: weight = one IEEE division of
    * identical operands per doc, then Det.dsum (exact decimal sum) —
    * never a bare double sum. */
  val dedupSoftWeights: Q = Q(
    "dedup_soft_weights",
    Some {
      val w = "len(string_split(d.text, ' '))::DOUBLE / sz.n"
      "WITH lab AS (" + clustersOracleBody + "), " +
        "sz AS (SELECT cluster, count(*) AS n FROM lab GROUP BY cluster) " +
        "SELECT d.source, count(*) AS n_docs, count(DISTINCT lab.cluster) AS n_clusters, " +
        "cast(sum(len(string_split(d.text, ' '))) as bigint) AS raw_tokens, " +
        Det.oRS(Det.oSum(w), 6) + " AS eff_tokens, " +
        Det.oRS(
          Det.oSum(w) + " / cast(sum(len(string_split(d.text, ' '))) as bigint)::DOUBLE",
          6
        ) + " AS dedup_discount " +
        "FROM lab JOIN documents d ON d.doc_id = lab.doc_id " +
        "JOIN sz ON sz.cluster = lab.cluster " +
        "GROUP BY d.source ORDER BY d.source"
    },
    (spark, dir) => {
      val labels = clustersFrame(spark, dir).select(col("doc_id"), col("cluster"))
      val sizes  = labels.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      Tables
        .documents(spark, dir)
        .filter(col("doc_id") < ClusterProbeScope)
        .select(col("doc_id"), col("source"), size(split(col("text"), " ")).cast("long").as("tokens"))
        .join(labels, Seq("doc_id"))
        .join(broadcast(sizes), Seq("cluster"))
        .withColumn("w", col("tokens").cast("double") / col("n"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters"),
          sum(col("tokens")).as("raw_tokens"),
          Det.rS(Det.dsum(col("w")), 6).as("eff_tokens"),
          Det.rS(Det.dsum(col("w")) / sum(col("tokens")).cast("double"), 6).as("dedup_discount")
        )
        .orderBy(col("source"))
    },
    memoizes = true // shares clusterCache with dedup_clusters
  )

  /** Threshold-sensitivity curve: near-dup pair counts in 0.05-wide
    * Jaccard bins with the cumulative count at-or-above each bin — the
    * artifact you read before CHOOSING a dedup threshold (how many
    * more pairs does lowering the bar to 0.85 drag in?). One pass over
    * the already-blocked pair stream; binning on the 6-dp-rounded jac
    * is bit-identical cross-engine. */
  val dedupThresholdCurve: Q = Q(
    "dedup_threshold_curve",
    Some(
      "WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t FROM documents), " +
        "p AS (SELECT " + Det.oRN(
          oJac("a.t", "b.t"), 6) + " AS jac " +
        "FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id " +
        s"AND ${oLenRatio("a.t", "b.t")}), " +
        "b AS (SELECT floor(jac * 20) / 20 AS bin FROM p WHERE jac >= 0.8), " +
        "g AS (SELECT bin, count(*) AS n_pairs FROM b GROUP BY bin) " +
        "SELECT bin, n_pairs, cast(sum(n_pairs) OVER (ORDER BY bin DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS n_at_or_above " +
        "FROM g ORDER BY bin"
    ),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(Det.onePart(col("bin"))).orderBy(col("bin").desc).rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sharedPairs(spark, dir) // materialized pair view — see pairTablePath
        .select((floor(col("jac") * 20) / 20).as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(
          col("bin"),
          col("n_pairs"),
          sum(col("n_pairs")).over(w).cast("long").as("n_at_or_above")
        )
        .orderBy(col("bin"))
    }
  )

  /** Near-SUBSET pairs by token-set CONTAINMENT: |A ∩ B| / |A| ≥ 0.9
    * with |B| ≥ |A| — the asymmetric sibling of Jaccard dedup that
    * catches TRUNCATED COPIES (a prefix/excerpt of a longer document
    * has low Jaccard but high containment in its source). Reports
    * (small doc, containing doc, containment).
    *
    * 100 TB notes: same blocked equi-join shape as the Jaccard pass —
    * join on (lang, geometric count bucket). Containment ≥ 0.9 with
    * |B| ≥ |A| bounds partners to [na, 3·na] (the 3× cap is the
    * documented knob: a 40-token excerpt of a 10k-token book needs a
    * containment INDEX, not a wider band), so the SMALL side emits one
    * row per bucket of the ⌊log₁.₂₅⌋ grid covering [na, 3na] —
    * ⌈log₁.₂₅ 3⌉ + 1 ≈ 6 rows — and the exact count band re-applies as
    * an integer filter after the join. Coverage is exact by floor
    * monotonicity: bucket(nb) ∈ [bucket(na), bucket(3na)] for every
    * nb in the band (no ±1 slack needed — the range ENDPOINTS are
    * functions of na alone). An earlier formulation exploded every
    * compatible partner COUNT — 2·nt+1 rows per doc, each duplicating
    * the hashed token array through the exchange, i.e. shuffle volume
    * QUADRATIC in doc length; it measured 30 s in the round-6 full
    * bench at sf0.1 where the bucket grid measures ~3 s for the
    * identical pair set, and the gap compounds at 100 TB where
    * shuffle is the first wall. Candidates stay linear in docs × band
    * width; the per-pair intersect is the codegen'd merge scan.
    * Determinism: exact int ratio, 6-dp trunc round, ≥ on the exact
    * ratio. */
  val dedupContainment: Q = Q(
    "dedup_containment",
    Some(
      "WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t FROM documents), " +
        "p AS (SELECT a.doc_id AS small_id, b.doc_id AS big_id, len(a.t) AS na, " +
        "len(list_intersect(a.t, b.t))::DOUBLE / len(a.t) AS cont " +
        "FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id != b.doc_id " +
        "AND len(b.t) >= len(a.t) AND len(b.t) <= 3 * len(a.t) " +
        "AND NOT (len(b.t) = len(a.t) AND b.doc_id < a.doc_id)) " +
        "SELECT small_id, big_id, " + Det.oRN("cont", 6) + " AS cont " +
        "FROM p WHERE cont >= 0.9 ORDER BY small_id, big_id"
    ),
    (spark, dir) => {
      import org.apache.spark.sql.graftx.SortedLongIntersectCount
      def bkt(n: Column): Column = floor(log(n.cast("double")) / math.log(1.25)).cast("int")
      // both join sides read the persisted FULL-CORPUS signature table
      // (hashed token sets + counts are exactly its columns) — before
      // r10 this query re-tokenized the whole corpus per run while the
      // view held the same frame minus the demo's 10 % batch split
      val d = spark.read
        .parquet(sigTablePath(spark, dir))
        .select(col("doc_id"), col("lang"), col("t"), col("nt"))
      // small side explodes the ~6 geometric buckets covering its
      // compatible CONTAINING counts [na, 3na] (NOT every count slot —
      // see scaladoc); equal-count pairs keep one orientation via the
      // id tiebreak
      val a = d.select(
        col("doc_id").as("small_id"),
        col("lang"),
        col("t").as("ta"),
        col("nt").as("na"),
        explode(sequence(bkt(col("nt")), bkt(col("nt") * 3))).as("pb")
      )
      val b = d.select(
        col("doc_id").as("big_id"),
        col("lang"),
        col("t").as("tb"),
        col("nt").as("nb"),
        bkt(col("nt")).as("pb")
      )
      a.join(b, Seq("lang", "pb"))
        .filter(
          col("nb") >= col("na") && col("nb") <= lit(3) * col("na") &&
            col("small_id") =!= col("big_id") &&
            !(col("nb") === col("na") && col("big_id") < col("small_id"))
        )
        .withColumn("inter", SortedLongIntersectCount.count(col("ta"), col("tb")))
        // cont >= 0.9 spelled as the INTEGER 10*inter >= 9*na — same
        // one-kernel-eval-per-candidate argument as ngramPairsGridOf
        // (i/na >= 0.9 <=> 10i >= 9na exactly; no rational with a
        // denominator below ~1e15 separates double(0.9) from 9/10)
        .filter(col("inter").cast("long") * 10 >= col("na").cast("long") * 9)
        .withColumn("cont", col("inter").cast("double") / col("na"))
        .select(col("small_id"), col("big_id"), Det.rN(col("cont"), 6).as("cont"))
        .orderBy(col("small_id"), col("big_id"))
    }
  )

  /** Diversity-preserving survivor selection: instead of the arbitrary
    * min-doc_id representative, keep the HIGHEST-QUALITY document of
    * each near-dup cluster (quality proxy: n_chars; deterministic
    * doc_id tiebreak) — the policy an actual curation pass wants, since
    * near-dup groups usually contain one full document and several
    * truncated copies. Reuses the memoized cluster labels (zero extra
    * clustering cost) + one broadcast-sized join; the per-cluster
    * argmax runs through the custom TopKPerGroup operator (map-side
    * k=1 heaps, exchange moves one row per cluster). */
  val dedupBestOfCluster: Q = Q(
    "dedup_best_of_cluster",
    Some(
      "SELECT cluster, doc_id AS kept_doc_id, n_docs, n_chars FROM (" +
        "SELECT c.cluster, c.doc_id, d.n_chars, " +
        "count(*) OVER (PARTITION BY c.cluster) AS n_docs, " +
        "row_number() OVER (PARTITION BY c.cluster ORDER BY d.n_chars DESC, c.doc_id) AS rn " +
        "FROM (" + clustersOracleBody + ") c " +
        "JOIN documents d ON c.doc_id = d.doc_id) " +
        "WHERE rn = 1 ORDER BY cluster"
    ),
    (spark, dir) => {
      val j = clustersFrame(spark, dir)
        .join(
          Tables
            .documents(spark, dir)
            .filter(col("doc_id") < ClusterProbeScope)
            .select(col("doc_id"), col("n_chars")),
          Seq("doc_id")
        )
      val sizes = j.groupBy(col("cluster")).agg(count(lit(1)).as("n_docs"))
      org.apache.spark.sql.graftx
        .TopKPerGroup(j, Seq("cluster"), Seq("n_chars" -> true, "doc_id" -> false), 1)
        .select(col("cluster"), col("doc_id").as("kept_doc_id"), col("n_chars"))
        .join(sizes, Seq("cluster"))
        .select(col("cluster"), col("kept_doc_id"), col("n_docs"), col("n_chars"))
        .orderBy(col("cluster"))
    },
    memoizes = true // shares clusterCache with dedup_clusters
  )

  /** Incremental dedup — the shape the daily job actually runs: a NEW
    * batch (10% of docs by key hash here) screened against the
    * EXISTING corpus, never corpus×corpus. Same (lang, token-count
    * band) blocked equi-join and codegen'd sorted-merge intersection
    * as [[dedupNearJaccard]], but asymmetric: only the small batch
    * side explodes its count band (~1.5×), the corpus side streams
    * once keyed by its own count. Per new doc: how many corpus
    * near-dups (jac ≥ 0.8), the best score, and the admit verdict.
    * At 100 TB the corpus side of this join is further replaced by a
    * persisted signature table (write once, probe daily) — same plan,
    * the scan just hits precomputed (lang, count, sorted-hash) rows.
    */
  val dedupIncremental: Q = Q(
    "dedup_incremental",
    Some(
      "WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t FROM documents), " +
        "nb AS (SELECT * FROM d WHERE doc_id % 10 = 0), " +
        "corp AS (SELECT * FROM d WHERE doc_id % 10 <> 0), " +
        "p AS (SELECT nb.doc_id, " +
        s"${oJac("nb.t", "corp.t")} AS jac " +
        "FROM nb JOIN corp ON nb.lang = corp.lang " +
        s"AND ${oLenRatio("nb.t", "corp.t")}), " +
        "m AS (SELECT doc_id, cast(sum(CASE WHEN jac >= 0.8 THEN 1 ELSE 0 END) as bigint) AS n_dups, " +
        Det.oRN("max(jac)", 6) + " AS best_jac FROM p GROUP BY doc_id) " +
        "SELECT nb.doc_id, coalesce(n_dups, 0) AS n_dup_corpus, " +
        "coalesce(best_jac, 0.0) AS best_jac, coalesce(n_dups, 0) = 0 AS admitted " +
        "FROM nb LEFT JOIN m ON nb.doc_id = m.doc_id ORDER BY nb.doc_id"
    ),
    // the RECOMPUTING twin: corpus signatures derived from documents
    // at query time (the persisted row reads corpusSigTable instead)
    (spark, dir) => incrementalScreen(spark, dir, signatures(spark, dir, col("doc_id") % 10 =!= 0))
  )

  /** Doc → (lang, bucket, nt, sorted hashes) signature projection —
    * what the incremental screen needs from either side. */
  /** (doc_id, lang, t, nt, bkt) signature transform over ANY docs
    * frame with (doc_id, lang, text) — shared by the batch paths and
    * the streaming ingest screen (a streaming frame goes through the
    * same stateless projection). */
  private[graft] def signaturesOf(docs: DataFrame): DataFrame = {
    val hs = hashedTokenSet
    docs
      .select(
        col("doc_id"),
        col("lang"),
        hs.as("t"),
        size(hs).as("nt")
      )
      .withColumn("bkt", bktCol)
  }

  private def signatures(spark: SparkSession, dir: String, docFilter: Column): DataFrame =
    signaturesOf(Tables.documents(spark, dir).filter(docFilter))

  /** The shared incremental-dedup screen: the NEW batch (10% of docs)
    * against a corpus signature frame — either recomputed
    * ([[dedupIncremental]]) or read back from the persisted signature
    * table ([[dedupIncrementalPersisted]]). Blocked on (lang, geometric
    * count bucket), probe side emits ±1 bucket (jac ≥ 0.8 forces the
    * counts within a 1.25× ratio ⇒ |Δbucket| ≤ 1, the
    * [[nearJaccardPairs]] coverage argument), exact band re-applied
    * after the join. An earlier formulation exploded every compatible
    * partner COUNT (~0.45·nt rows per probe doc, each carrying the
    * hashed-token array) — the same quadratic-exchange shape
    * `dedup_containment` shed this round; 3 bucket rows replace it for
    * the identical match set. */
  private def incrementalScreen(
      spark: SparkSession,
      dir: String,
      corpus: DataFrame
  ): DataFrame =
    screenSigsAgainst(signatures(spark, dir, col("doc_id") % 10 === 0), corpus)
      .orderBy(col("doc_id"))

  /** Screen a signature frame (the incoming batch) against a corpus
    * signature table: count-bucket + length-ratio blocked exact
    * Jaccard, per-doc dup accounting. Factored out so the STREAMING
    * ingest screen ([[graft.streaming.StreamDemos.screenedIngest]])
    * runs the identical plan per micro-batch against the persisted
    * table. Unsorted — batch callers append their own total order. */
  /** `broadcastProbe`: see [[minhashScreenPrepared]] — the streaming
    * twin's micro-batch probe is trigger-bounded, so broadcasting it
    * leaves the corpus signature side unshuffled per batch. */
  private[graft] def screenSigsAgainst(
      batch: DataFrame,
      corpus: DataFrame,
      broadcastProbe: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graftx.SortedLongIntersectCount
    val probe0 = batch.select(
      col("doc_id"),
      col("lang"),
      col("t").as("ta"),
      col("nt").as("na"),
      explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("pb")
    )
    val probe = if (broadcastProbe) broadcast(probe0) else probe0
    val base = corpus.select(col("lang"), col("t").as("tb"), col("nt").as("nb"), col("bkt").as("pb"))
    val matches = probe
      .join(base, Seq("lang", "pb"))
      .filter(lit(5) * least(col("na"), col("nb")) >= lit(4) * greatest(col("na"), col("nb")))
      .withColumn("inter", SortedLongIntersectCount.count(col("ta"), col("tb")))
      .withColumn("jac", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("jac") >= 0.8, 1L).otherwise(0L)).as("n_dups"),
        Det.rN(max(col("jac")), 6).as("best")
      )
    batch
      .select(col("doc_id"))
      .join(matches, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dup_corpus"),
        coalesce(col("best"), lit(0.0)).as("best_jac"),
        (coalesce(col("n_dups"), lit(0L)) === 0).as("admitted")
      )
  }

  /** Write the FULL-CORPUS signature table ONCE per (session, sf dir):
    * (doc_id, lang, t sorted hashes, nt, bkt) for EVERY document.
    * Since r10 the table is unfiltered — the incremental-screen demo's
    * 90 % "corpus" is a doc_id predicate applied at read time
    * ([[corpusSigTable]], pushed to the parquet scan) rather than
    * baked into the bytes, because that is what a real pipeline's
    * signature table is: ONE ingest product that every consumer scopes
    * its own way. That upgrade let [[dedupContainment]] read both of
    * its join sides from the view instead of re-tokenizing the corpus
    * per run. buildVersion = 2 per the standing rule: the derivation
    * changed (filter removed), and a v1 corpus-only store from an
    * older binary must not satisfy the exists-check — it would be
    * silently missing 10 % of the rows this build promises.
    *
    * Path/race/staleness discipline lives in [[graft.ViewStore]]: the
    * path keys on an MD5 of the dir path plus every input parquet's
    * (name, length, mtime), so a regenerated input dir rebuilds
    * instead of serving stale signatures, and concurrent JVMs settle
    * on one identical copy via write-to-temp + rename. */
  private[graft] def sigTablePath(spark: SparkSession, dir: String): String =
    graft.ViewStore.materialize(spark, "graft_dedup_sigs", dir, buildVersion = 2)(
      signatures(spark, dir, lit(true)))

  /** The incremental-screen demo's CORPUS side: the persisted
    * signature table restricted to the 90 % split — a pushed-down
    * doc_id predicate over [[sigTablePath]], shared by the batch row
    * ([[dedupIncrementalPersisted]]) and the streaming ingest screen
    * so both screen against literally the same frame. */
  private[graft] def corpusSigTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(sigTablePath(spark, dir)).filter(col("doc_id") % 10 =!= 0)

  /** Materialize the FULL-SCOPE jac ≥ 0.8 pair stream ONCE per
    * (session, data dir) and serve every full-scope consumer from the
    * parquet — the dedup twin of [[Graph.edgeTablePath]]'s materialized
    * edge view. Four registry rows (near_jaccard, threshold_curve,
    * source_overlap, source_unique) analyze the SAME blocked-Jaccard
    * pair set; each used to re-pay the tokenize + band join + exact
    * intersect (~2.5-3.5 s each in the full bench). The table carries
    * (ida, idb, jac, source_a, source_b) — the union of what the four
    * consumers project. At 100 TB this is the pair MANIFEST a curation
    * pipeline writes once per corpus snapshot and then mines from
    * every downstream report. The clustering stage and the recall
    * audit's TRUTH side consume it too (restricted to their scopes —
    * lossless, since per-doc blocking makes pair candidacy
    * scope-invariant). That reuse is NOT circular for the audit: the
    * manifest is the blocked exact-intersect join, while the screens
    * under audit are the MinHash geometries — the exact join is the
    * independent referee either way.
    *
    * Same [[graft.ViewStore]] discipline as [[sigTablePath]]:
    * input-fingerprinted path (stale-proof against a regenerated
    * input dir), write-to-temp + rename for the cross-JVM race. */
  private[graft] def pairTablePath(spark: SparkSession, dir: String): String =
    // buildVersion 2: r21's integer threshold spelling in
    // blockedJacPairsCore — content provably identical (same pair
    // set, same jac doubles), but the house rule is to bump on ANY
    // derivation change rather than reason per-case about coincidence
    graft.ViewStore.materialize(spark, "graft_dedup_pairs", dir, buildVersion = 2)(
      nearJaccardPairs(spark, dir, carry = Seq("source")))

  /** Full-scope jac ≥ 0.8 pairs served from the materialized view —
    * what the four full-scope pair consumers read instead of
    * re-running the blocked join. */
  private def sharedPairs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(pairTablePath(spark, dir))

  /** The manifest's pairs restricted to `doc_id < scope` on BOTH
    * endpoints — exactly the pair set a direct screen of the scoped
    * corpus produces (lossless: blocking is per-doc, so candidacy and
    * exact Jaccard never depend on which other docs are in scope;
    * DedupSpec pins the equivalence). Shared by the scoped graph
    * consumers (clustering, near-dup triangles). */
  private[graft] def scopedManifestPairs(spark: SparkSession, dir: String, scope: Long): DataFrame =
    sharedPairs(spark, dir)
      .filter(col("ida") < scope && col("idb") < scope)
      .select(col("ida"), col("idb"))

  /** The incremental screen served from the PERSISTED signature table —
    * the shape the daily job actually runs at 100 TB: tokenize/hash the
    * corpus ONCE at ingest (write parquet), then each day's batch
    * tokenizes only itself and equi-joins the precomputed signatures.
    * The text column of the 100 TB corpus is never re-read. Shares
    * [[dedupIncremental]]'s oracle: persistence must be
    * result-invisible (DedupSpec asserts bit-equality with the
    * recomputing variant AND that this plan's corpus side scans the
    * signature path, not documents.parquet). */
  val dedupIncrementalPersisted: Q = Q(
    "dedup_incremental_persisted",
    dedupIncremental.oracle,
    (spark, dir) =>
      incrementalScreen(spark, dir, corpusSigTable(spark, dir))
  )

  /** Incremental MinHash-LSH screen — the daily-ingest shape of the
    * BANDED near-dup path, completing the incremental family: where
    * [[dedupIncrementalPersisted]] screens the new batch by EXACT
    * blocked Jaccard against the persisted token-set signatures, this
    * row screens it by 8×2 banding against the persisted FULL-CORPUS
    * 16-wide minhash table ([[minhashSigTablePath]]) — at 100 TB the
    * exact screen's token arrays may be too wide to move per probe,
    * and the minhash screen moves 17 longs per doc regardless of
    * document length. Candidates = batch×corpus band collisions over
    * corpus buckets with ≤ 2000 members (the corpus side's inverted
    * band lists are the serving asset; an oversized bucket carries no
    * signal and unbounded probe cost, the standing cap argument), kept
    * at estimate ≥ 0.8, rolled up per batch doc as (n_dup_corpus,
    * best_est, admitted) — the same verdict shape as the exact screen,
    * so a pipeline can swap screens without touching downstream.
    *
    * Determinism: the same integer minhash algebra as
    * [[dedupMinhashLsh]] (DuckDB replays it bit-exactly); the estimate
    * is an exact k/16 double, its max and the trunc-rounding are
    * order-free; counts are exact after the cross-band pair dedup
    * (the estimate is band-invariant). Corpus-side text is never
    * read — the only corpus input is the materialized view. */
  val dedupMinhashIncremental: Q = Q(
    "dedup_minhash_incremental",
    Some {
      val p  = MinhashP
      val nH = MinhashA16.length
      val mcols = MinhashA16.indices
        .map(i => s"min((hv * ${MinhashA16(i)} + ${MinhashB16(i)}) % $p) AS m$i")
        .mkString(", ")
      val allM = MinhashA16.indices.map(i => s"m$i").mkString(", ")
      val bands = (0 until nH / 2)
        .map(j => s"SELECT doc_id, $allM, $j AS band, m${2 * j} * $p + m${2 * j + 1} AS bk FROM m")
        .mkString(" UNION ALL ")
      val agree = MinhashA16.indices.map(i => s"(a.m$i = c.m$i)::INT").mkString(" + ")
      "WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        s"h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % $p AS hv FROM t), " +
        s"m AS (SELECT doc_id, $mcols FROM h GROUP BY doc_id), " +
        s"bnd AS ($bands), " +
        "cb AS (SELECT band, bk FROM bnd WHERE doc_id % 10 <> 0 GROUP BY 1, 2 HAVING count(*) <= 2000), " +
        s"cand AS (SELECT DISTINCT a.doc_id AS bid, c.doc_id AS cid, ($agree)::DOUBLE / $nH AS ej " +
        "FROM bnd a JOIN cb USING (band, bk) JOIN bnd c USING (band, bk) " +
        "WHERE a.doc_id % 10 = 0 AND c.doc_id % 10 <> 0), " +
        "p2 AS (SELECT bid, cid, ej FROM cand WHERE ej >= 0.8), " +
        "ag AS (SELECT bid, count(*)::BIGINT AS n_dups, max(ej) AS best FROM p2 GROUP BY bid) " +
        "SELECT d.doc_id, coalesce(ag.n_dups, 0) AS n_dup_corpus, " +
        Det.oRN("coalesce(ag.best, 0.0)", 6) + " AS best_est, " +
        "coalesce(ag.n_dups, 0) = 0 AS admitted " +
        "FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d " +
        "LEFT JOIN ag ON d.doc_id = ag.bid ORDER BY d.doc_id"
    },
    // batch side signs ITSELF from text (the daily-ingest contract:
    // new data is not in the table yet — the same split the exact
    // screen uses); only the corpus side reads the persisted view
    (spark, dir) =>
      minhashScreenAgainst(
        Tables.documents(spark, dir).filter(col("doc_id") % 10 === 0),
        spark.read.parquet(minhashSigTablePath(spark, dir)).filter(col("doc_id") % 10 =!= 0)
      ).orderBy(col("doc_id"))
  )

  /** Δ-MAINTENANCE of the pair manifest — the third member of the
    * incremental family, and the one that maintains the VIEW rather
    * than gating the batch: where the two screens above emit per-doc
    * admit/reject verdicts, this row emits the exact jac ≥ 0.8 PAIRS
    * the day's batch adds to the manifest, so
    * `manifest(t+1) = manifest(t) ∪ Δ` (DedupSpec pins that identity:
    * Δ ∪ corpus-only pairs == the full-manifest build, jac values
    * included — per-doc blocking makes pair candidacy split-invariant,
    * so the union is lossless). Cost shape is the point at 100 TB: the
    * full manifest build is O(corpus²) through the blocked join, the
    * Δ is O(batch × blocked-candidates) — the batch tokenizes ITSELF
    * from text (daily-ingest contract, new docs are not in the
    * signature table yet) and its partner pool is the PERSISTED
    * token-signature view plus the batch itself; corpus text is never
    * re-read.
    *
    * Pair dedup without a distinct: batch×corpus pairs appear once by
    * construction (only batch docs probe), batch×batch pairs are kept
    * only as ida < idb; output endpoints are least/greatest-normalized
    * to the manifest's (ida < idb) convention. Same blocking, same
    * codegen'd sorted-intersect, same 6 dp trunc-rounding as
    * [[nearJaccardPairsFrom]]. */
  val dedupPairsIncremental: Q = Q(
    "dedup_pairs_incremental",
    Some(
      "WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t FROM documents), " +
        "p AS (SELECT a.doc_id ida, b.doc_id idb, " +
        s"${oJac("a.t", "b.t")} AS jac " +
        "FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id " +
        "AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0) " +
        s"AND ${oLenRatio("a.t", "b.t")}) " +
        "SELECT ida, idb, " + Det.oRN("jac", 6) + " AS jac FROM p WHERE jac >= 0.8 " +
        "ORDER BY ida, idb"
    ),
    (spark, dir) => {
      val batch = signaturesOf(Tables.documents(spark, dir).filter(col("doc_id") % 10 === 0))
      // partner pool: the persisted corpus signatures + the batch
      // itself (batch×batch near-dups are part of the day's delta too);
      // corpus partners pair once by construction (only the batch
      // probes), batch partners dedupe on ida < idb
      val pool = corpusSigTable(spark, dir).unionByName(batch)
      pairDeltaAgainst(
        batch,
        pool,
        col("ida") =!= col("idb") && (col("idb") % 10 =!= 0 || col("ida") < col("idb"))
      ).orderBy(col("ida"), col("idb"))
    }
  )

  /** The delta-pair screen shared by [[dedupPairsIncremental]] and its
    * streaming twin
    * ([[graft.streaming.StreamDemos.pairDeltaIngest]]): probe a batch
    * signature frame against a partner pool through
    * [[blockedJacPairsCore]], normalize endpoints to the manifest's
    * (ida < idb) convention, round to the manifest's 6 dp. `pairKeep`
    * differs by caller — the batch row prunes symmetric batch×batch
    * duplicates inside the join (`idb` not-in-batch OR `ida < idb`),
    * the streaming twin keeps every probe-side hit (`ida =!= idb`)
    * because a pair spanning two micro-batches is only seen from the
    * LATER side, and lets its idempotent (ida, idb)-keyed merge
    * collapse the same-micro-batch symmetric duplicates. Unsorted;
    * callers own the total order. */
  private[graft] def pairDeltaAgainst(
      batchSigs: DataFrame,
      pool: DataFrame,
      pairKeep: Column
  ): DataFrame =
    blockedJacPairsCore(batchSigs, pool, pairKeep, Nil)
      .select(
        least(col("ida"), col("idb")).as("ida"),
        greatest(col("ida"), col("idb")).as("idb"),
        Det.rN(col("jac"), 6).as("jac")
      )

  /** Screen a docs frame (the incoming batch) against a corpus minhash
    * signature table by 8×2 banding: batch signatures from the shared
    * stateless projection ([[minhashSignaturesOf]]), corpus-side
    * bucket cap at 2000, estimate ≥ 0.8, per-doc verdict rollup.
    * Factored so the STREAMING ingest twin
    * ([[graft.streaming.StreamDemos.minhashScreenedIngest]]) runs the
    * identical plan per micro-batch — the banded sibling of
    * [[screenSigsAgainst]]. Unsorted; batch callers append their own
    * total order. */
  private[graft] def minhashScreenAgainst(
      batchDocs: DataFrame,
      corpusSigs: DataFrame
  ): DataFrame = {
    val corpusB = bandedMinhashSigs(corpusSigs)
    minhashScreenPrepared(
      batchDocs, corpusB.join(minhashBucketCapOk(corpusB), Seq("band", "bk")))
  }

  /** The 8×2 banding projection of a 16-wide signature frame — one
    * (doc_id, m0..m15, band, bk) row per (doc, band). Factored out so
    * the streaming ingest twin can band the corpus ONCE per run and
    * persist it across micro-batches instead of re-deriving it per
    * trigger (at 100 TB the banded corpus IS part of the persisted
    * LSH index; re-banding per micro-batch was pure recompute). */
  private[graft] def bandedMinhashSigs(df: DataFrame): DataFrame = {
    val nH = MinhashA16.length
    df.select(
        col("doc_id") +: (0 until nH).map(i => col(s"m$i")) :+
          explode(array((0 until nH / 2).map { j =>
            struct(
              lit(j).as("band"),
              (col(s"m${2 * j}") * MinhashP + col(s"m${2 * j + 1}")).as("bk")
            )
          }: _*)).as("b"): _*
      )
      .select(col("doc_id") +: (0 until nH).map(i => col(s"m$i")) :+
        col("b.band").as("band") :+ col("b.bk").as("bk"): _*)
  }

  /** Corpus-side bucket-cap admission frame for a banded corpus:
    * (band, bk) keys whose bucket holds ≤ 2000 corpus members. The
    * projection to the key BEFORE counting keeps the aggregate's
    * shuffle at two longs per band row. Like the banding itself, a
    * frozen-corpus property — computed once per screen run. */
  private[graft] def minhashBucketCapOk(corpusB: DataFrame): DataFrame =
    corpusB
      .select(col("band"), col("bk"))
      .groupBy(col("band"), col("bk"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") <= 2000)
      .select(col("band"), col("bk"))

  /** [[minhashScreenAgainst]] with the corpus side PRE-BANDED and
    * PRE-CAPPED (`corpusOk` = banded corpus inner-joined to its
    * bucket-cap admission keys) — the shape the streaming twin runs
    * per micro-batch, with the corpus frame persisted once per run and
    * the per-trigger plan reduced to ONE equi-join (batch bands ⋈
    * admitted corpus bands). Inner joins associate, so folding the cap
    * into the corpus side is value-identical to the r16 three-frame
    * spelling. */
  /** `broadcastProbe` (streaming-twin only): a MICRO-BATCH probe side
    * is bounded by the trigger, so broadcasting it keeps the corpus
    * side entirely UNSHUFFLED — the correct 100 TB ingest-screen shape
    * (per batch: broadcast the day's arrivals' bands, hash-probe the
    * persisted index partitions in place). The batch registry row
    * keeps the default: its probe side is a whole day's batch, and
    * AQE should pick the strategy from real sizes. Value-identical
    * either way. */
  private[graft] def minhashScreenPrepared(
      batchDocs: DataFrame,
      corpusOk: DataFrame,
      broadcastProbe: Boolean = false
  ): DataFrame = {
    val nH = MinhashA16.length
    val batchB  = bandedMinhashSigs(minhashSignaturesOf(batchDocs))
    val a0 = batchB.select(col("band") +: col("bk") +: col("doc_id").as("bid") +:
      (0 until nH).map(i => col(s"m$i").as(s"ma$i")): _*)
    val a = if (broadcastProbe) broadcast(a0) else a0
    val c = corpusOk.select(col("band") +: col("bk") +: col("doc_id").as("cid") +:
      (0 until nH).map(i => col(s"m$i").as(s"mb$i")): _*)
    val est = (0 until nH)
      .map(i => when(col(s"ma$i") === col(s"mb$i"), 1).otherwise(0))
      .reduce(_ + _)
      .cast("double") / nH
    // threshold MAP-SIDE after the band join; the estimate is
    // band-invariant, so the cross-band pair dedup is value-safe
    val pairs = a
      .join(c, Seq("band", "bk"))
      .withColumn("ej", est)
      .filter(col("ej") >= 0.8)
      .select(col("bid"), col("cid"), col("ej"))
      .dropDuplicates("bid", "cid")
    val agg = pairs
      .groupBy(col("bid"))
      .agg(count(lit(1)).as("n_dups"), Det.rN(max(col("ej")), 6).as("best"))
    batchDocs
      .select(col("doc_id"))
      .join(agg, col("doc_id") === col("bid"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dup_corpus"),
        coalesce(col("best"), lit(0.0)).as("best_est"),
        (coalesce(col("n_dups"), lit(0L)) === 0).as("admitted")
      )
  }

  /** Positional k-token shingles ("spans") of the token stream, empty
    * when the doc is shorter than k. The size guard matters: Spark's
    * `sequence(1, n)` generates a DESCENDING [1, 0] when n = 0, where
    * DuckDB's generate_series returns empty — the `when` keeps both
    * engines at zero spans for short docs. */
  private def spans(t: Column, k: Int): Column =
    when(
      size(t) >= k,
      transform(sequence(lit(1), size(t) - (k - 1)), i => array_join(slice(t, i, lit(k)), " "))
    ).otherwise(array().cast("array<string>"))

  /** Per-document duplicated-span coverage — the line-level/boilerplate
    * dedup signal of web-corpus pipelines (CCNet, RefinedWeb drop
    * LINES seen in many docs; this corpus has no newlines, so the unit
    * is a 5-token span): fraction of a doc's span positions whose
    * exact span also appears in ≥ 2 distinct documents. High coverage
    * → the doc is mostly template/clone material even when no single
    * whole-doc near-dup pair fires.
    *
    * 100 TB: one explode (corpus × ~doc_len rows), one span-keyed
    * aggregate for df (partial aggregation applies), one shuffle join
    * back on the span key, one doc-keyed aggregate — every step is
    * key-partitioned with bounded fanout; no all-pairs anywhere. The
    * df table is vocabulary-of-spans-sized; at corpus scale it stays a
    * shuffle join (too big to broadcast) and that is what's planned
    * here. */
  val dedupSpanCoverage: Q = Q(
    "dedup_span_coverage",
    Some(
      "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "g AS (SELECT doc_id, unnest(generate_series(1, len(toks)-4)) AS pos, toks FROM t WHERE len(toks) >= 5), " +
        "sh AS (SELECT doc_id, pos, array_to_string(toks[pos:pos+4], ' ') AS s FROM g), " +
        "df AS (SELECT s, count(DISTINCT doc_id) AS df FROM sh GROUP BY s) " +
        "SELECT sh.doc_id, count(*) AS n_spans, " +
        "cast(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) as bigint) AS n_dup_spans, " +
        Det.oRN("sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*)", 6) +
        " AS dup_ratio " +
        "FROM sh JOIN df USING (s) GROUP BY sh.doc_id ORDER BY sh.doc_id"
    ),
    (spark, dir) => {
      // span strings never leave the map side: the df aggregate and the
      // join back both key on xxhash64(span) — an 8-byte shuffle key
      // instead of a ~50-char string (deterministic; a collision would
      // merge two span types identically in every run and is excluded
      // by the oracle compare at both test SFs). Only df ≥ 2 spans
      // (the small minority) join back; per-doc span totals come
      // map-side from the token count, so clean docs never shuffle.
      val t = split(col("text"), " ")
      val docs = Tables.documents(spark, dir)
      val d = docs
        .select(col("doc_id"), explode(spans(t, 5)).as("s"))
        .select(col("doc_id"), xxhash64(col("s")).as("h"))
      val dupSpans = d
        .groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2)
        .select(col("h"))
      val dup = d
        .join(dupSpans, Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_dup_spans"))
      docs
        .select(col("doc_id"), greatest(size(t) - 4, lit(0)).cast("long").as("n_spans"))
        .filter(col("n_spans") > 0)
        .join(dup, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          col("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
          Det.rN(coalesce(col("n_dup_spans"), lit(0L)).cast("double") / col("n_spans"), 6)
            .as("dup_ratio")
        )
        .orderBy(col("doc_id"))
    }
  )

  /** Intra-source boilerplate REMOVAL — the standard web-pipeline stage
    * (CCNet / RefinedWeb drop lines or paragraphs repeated across many
    * pages of one site: headers, footers, navigation) that
    * [[dedupSpanCoverage]] only SIGNALS. Differences are deliberate:
    * the unit is a NON-OVERLAPPING segment (a removal unit — dropping
    * overlapping spans would shred surviving text), the doc-frequency
    * is counted WITHIN EACH SOURCE (boilerplate is site-templating;
    * cross-site repetition is [[dedupNgramExact]]'s evidence), and the
    * output is the per-doc CLEANED accounting (paragraphs dropped,
    * tokens surviving) a rewrite stage publishes. This corpus has no
    * newlines, so "paragraph" = a 16-token non-overlapping segment; on
    * real text the segmentation swaps for split-on-blank-line and
    * nothing else changes. Drop rule: a paragraph seen in >= 2 distinct
    * docs of the same source is template material (at corpus scale the
    * knob becomes a per-source df fraction; the shape is identical).
    *
    * 100 TB: one linear explode (corpus x ~docLen/16 rows), one
    * (source, hash)-keyed two-phase distinct-count, one equi-join back
    * on the SAME (source, hash) key, one doc-keyed aggregate — no
    * pairwise join anywhere, every stage partitions on its key.
    * Determinism: counts are exact ints; kept_ratio is one IEEE
    * division of exact ints, trunc-rounded. Paragraphs ride as
    * xxhash64 longs (8 bytes through the exchange, never strings) —
    * the oracle keeps exact string paragraphs, same accepted ~2^-45
    * collision story as every hashed screen here. */
  /** The ONE paragraph explode of the boilerplate family (per-source
    * removal, global removal, rewrite accounting): one linear pass
    * carrying (xxhash64(paragraph), token count, char count) per
    * 16-token non-overlapping segment; lang and nt ride the rows so
    * the per-doc aggregates need no join back to documents (consumers
    * that don't need lang/nc have them pruned by Catalyst). Paragraphs
    * ride as 8-byte longs through every exchange, never strings (the
    * oracles keep exact string paragraphs — the accepted ~2^-45
    * collision story). */
  private def boilerplateParas(spark: SparkSession, dir: String): DataFrame = {
    val t = split(col("text"), " ")
    Tables
      .documents(spark, dir)
      .filter(size(t) >= 1)
      .select(
        col("doc_id"),
        col("lang"),
        col("source"),
        size(t).as("nt"),
        explode(transform(
          sequence(lit(1), size(t), lit(16)),
          i => {
            val seg = array_join(slice(t, i, lit(16)), " ")
            struct(
              xxhash64(seg).as("h"),
              size(slice(t, i, lit(16))).as("np"),
              length(seg).as("nc"))
          })).as("p")
      )
      .select(col("doc_id"), col("lang"), col("source"), col("nt"),
        col("p.h").as("h"), col("p.np").as("np"), col("p.nc").as("nc"))
  }

  /** The per-source hot set ([[dedupBoilerplate]]'s rule): (source, h)
    * keys whose within-source distinct-doc frequency is ≥ 2, flagged
    * with `flag`. ONE spelling for all three family rows (r20
    * self-review — the rule was re-derived per row). */
  private def boilerplateSourceHot(paras: DataFrame, flag: String): DataFrame =
    paras
      .groupBy(col("source"), col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select(col("source"), col("h"), lit(true).as(flag))

  /** The global df-fraction hot set ([[dedupBoilerplateGlobal]]'s
    * rule): (h) keys whose corpus-wide distinct-doc frequency meets
    * max(2, ⌈0.1% · corpus docs⌉); the threshold arrives as a one-row
    * broadcast. */
  private def boilerplateGlobalHot(
      spark: SparkSession, dir: String, paras: DataFrame, flag: String): DataFrame = {
    val thr = Tables.documents(spark, dir)
      .agg(greatest(lit(2L), ceil(lit(0.001) * count(lit(1))).cast("long")).as("thr"))
    paras
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("dfg"))
      .crossJoin(broadcast(thr)) // bounded: ONE threshold row
      .filter(col("dfg") >= col("thr"))
      .select(col("h"), lit(true).as(flag))
  }

  val dedupBoilerplate: Q = Q(
    "dedup_boilerplate",
    Some(
      "WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents), " +
        "g AS (SELECT doc_id, source, len(t) AS nt, unnest(generate_series(1, len(t), 16)) AS p0, t " +
        "FROM d WHERE len(t) >= 1), " +
        "para AS (SELECT doc_id, source, nt, array_to_string(t[p0:p0+15], ' ') AS s, " +
        "len(t[p0:p0+15]) AS np FROM g), " +
        "hot AS (SELECT source, s FROM (SELECT source, s, count(DISTINCT doc_id) AS df " +
        "FROM para GROUP BY 1, 2) WHERE df >= 2), " +
        "j AS (SELECT para.*, (hot.s IS NOT NULL) AS is_hot FROM para " +
        "LEFT JOIN hot ON para.source = hot.source AND para.s = hot.s) " +
        "SELECT doc_id, source, count(*)::BIGINT AS n_paras, " +
        "cast(sum(CASE WHEN is_hot THEN 1 ELSE 0 END) as bigint) AS n_dropped, " +
        "cast(nt as bigint) AS n_tokens, " +
        "cast(nt - sum(CASE WHEN is_hot THEN np ELSE 0 END) as bigint) AS n_tokens_kept, " +
        Det.oRN("(nt - sum(CASE WHEN is_hot THEN np ELSE 0 END))::DOUBLE / nt", 6) +
        " AS kept_ratio " +
        "FROM j GROUP BY doc_id, source, nt ORDER BY doc_id"
    ),
    (spark, dir) => {
      val paras = boilerplateParas(spark, dir)
      paras
        .join(boilerplateSourceHot(paras, "is_hot"), Seq("source", "h"), "left")
        .groupBy(col("doc_id"), col("source"), col("nt"))
        .agg(
          count(lit(1)).as("n_paras"),
          sum(when(col("is_hot"), 1L).otherwise(0L)).cast("long").as("n_dropped"),
          sum(when(col("is_hot"), col("np").cast("long")).otherwise(0L)).as("tok_dropped")
        )
        .select(
          col("doc_id"),
          col("source"),
          col("n_paras"),
          col("n_dropped"),
          col("nt").cast("long").as("n_tokens"),
          (col("nt") - col("tok_dropped")).cast("long").as("n_tokens_kept"),
          Det.rN((col("nt") - col("tok_dropped")).cast("double") / col("nt"), 6).as("kept_ratio")
        )
        .orderBy(col("doc_id"))
    }
  )

  /** CORPUS-LEVEL repeated-paragraph removal — the CCNet-style GLOBAL
    * sibling of [[dedupBoilerplate]] (VERDICT r19 #2): document
    * frequency is counted ACROSS sources, so cross-site template
    * material (mirrors, syndicated footers, license blurbs) that no
    * single source repeats still drops. Drop rule: a paragraph is
    * boilerplate iff its global df ≥ max(2, ⌈0.1% · corpus docs⌉) —
    * the FRACTION is the production knob (df-fraction thresholds are
    * how CCNet/RefinedWeb scale the rule with corpus size); the
    * floor of 2 keeps CCNet's original any-repeat semantics where the
    * fraction would round below a countable repeat (this fixture's
    * 500-doc SFs). Attribution columns make the two stages
    * distinguishable in one report: of each doc's dropped paragraphs,
    * `n_src_also` would ALSO have been caught by the per-source rule
    * (df ≥ 2 within one source) and `n_global_only` are the
    * cross-source catches only this stage sees (non-vacuous at all
    * three SFs: 143/141/191 global-only instances).
    *
    * 100 TB: identical shape to the per-source row with one coarser
    * key — the same linear paragraph explode ([[boilerplateParas]]),
    * one (h)-keyed two-phase distinct count, one (source, h)-keyed one
    * (for attribution), equi-joins back on the SAME keys, one
    * doc-keyed aggregate. No pairwise join anywhere; the corpus-size
    * threshold arrives as a one-row broadcast. Determinism: counts
    * exact ints, threshold an exact ceil of one IEEE product,
    * kept_ratio one IEEE division trunc-rounded. */
  val dedupBoilerplateGlobal: Q = Q(
    "dedup_boilerplate_global",
    Some(
      "WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents), " +
        "th AS (SELECT greatest(2, cast(ceil(0.001 * count(*)) as bigint)) AS thr FROM documents), " +
        "g AS (SELECT doc_id, source, len(t) AS nt, unnest(generate_series(1, len(t), 16)) AS p0, t " +
        "FROM d WHERE len(t) >= 1), " +
        "para AS (SELECT doc_id, source, nt, array_to_string(t[p0:p0+15], ' ') AS s, " +
        "len(t[p0:p0+15]) AS np FROM g), " +
        "ghot AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS dfg FROM para GROUP BY s), th " +
        "WHERE dfg >= thr), " +
        "shot AS (SELECT source, s FROM (SELECT source, s, count(DISTINCT doc_id) AS dfs " +
        "FROM para GROUP BY 1, 2) WHERE dfs >= 2), " +
        "j AS (SELECT para.*, (ghot.s IS NOT NULL) AS is_hot, (shot.s IS NOT NULL) AS is_src_hot " +
        "FROM para LEFT JOIN ghot ON para.s = ghot.s " +
        "LEFT JOIN shot ON para.source = shot.source AND para.s = shot.s) " +
        "SELECT doc_id, source, count(*)::BIGINT AS n_paras, " +
        "cast(sum(CASE WHEN is_hot THEN 1 ELSE 0 END) as bigint) AS n_dropped, " +
        "cast(sum(CASE WHEN is_hot AND is_src_hot THEN 1 ELSE 0 END) as bigint) AS n_src_also, " +
        "cast(sum(CASE WHEN is_hot AND NOT is_src_hot THEN 1 ELSE 0 END) as bigint) AS n_global_only, " +
        "cast(nt as bigint) AS n_tokens, " +
        "cast(nt - sum(CASE WHEN is_hot THEN np ELSE 0 END) as bigint) AS n_tokens_kept, " +
        Det.oRN("(nt - sum(CASE WHEN is_hot THEN np ELSE 0 END))::DOUBLE / nt", 6) +
        " AS kept_ratio " +
        "FROM j GROUP BY doc_id, source, nt ORDER BY doc_id"
    ),
    (spark, dir) => {
      val paras = boilerplateParas(spark, dir)
      paras
        .join(boilerplateGlobalHot(spark, dir, paras, "is_hot"), Seq("h"), "left")
        .join(boilerplateSourceHot(paras, "is_src_hot"), Seq("source", "h"), "left")
        .groupBy(col("doc_id"), col("source"), col("nt"))
        .agg(
          count(lit(1)).as("n_paras"),
          sum(when(col("is_hot"), 1L).otherwise(0L)).cast("long").as("n_dropped"),
          sum(when(col("is_hot") && coalesce(col("is_src_hot"), lit(false)), 1L).otherwise(0L))
            .cast("long").as("n_src_also"),
          sum(when(col("is_hot") && !coalesce(col("is_src_hot"), lit(false)), 1L).otherwise(0L))
            .cast("long").as("n_global_only"),
          sum(when(col("is_hot"), col("np").cast("long")).otherwise(0L)).as("tok_dropped")
        )
        .select(
          col("doc_id"),
          col("source"),
          col("n_paras"),
          col("n_dropped"),
          col("n_src_also"),
          col("n_global_only"),
          col("nt").cast("long").as("n_tokens"),
          (col("nt") - col("tok_dropped")).cast("long").as("n_tokens_kept"),
          Det.rN((col("nt") - col("tok_dropped")).cast("double") / col("nt"), 6).as("kept_ratio")
        )
        .orderBy(col("doc_id"))
    }
  )

  /** BOILERPLATE REWRITE ACCOUNTING — the composition row the two
    * removal stages feed (SURVEY §24g residual #3): apply the FULL
    * boilerplate pass a pipeline actually runs (per-source df ≥ 2
    * UNION global df ≥ max(2, ⌈0.1% · docs⌉) — [[dedupBoilerplate]]'s
    * and [[dedupBoilerplateGlobal]]'s rules together), rewrite each
    * doc to its kept paragraphs, and report per language what the
    * cleaning DID: docs touched, paragraphs dropped, token/char volume
    * before → after, and — the eval-integrity number — how many docs
    * FELL OUT of the corpus build's quality gate (n_chars ≥ 150 ∧
    * tokens ≥ 20) because their bulk was template material. Removal is
    * monotone, so the gate only loses docs, never gains.
    *
    * Char accounting is derived from the SAME token partition on both
    * engines (Σ kept-paragraph string lengths + single-space joins),
    * never from raw `length(text)` — the before-number is therefore
    * exactly Σ nc + (paras − 1), engine-independent of any raw-text
    * whitespace conventions.
    *
    * 100 TB: one paragraph explode carrying (hash, token count, char
    * count), the two keyed df aggregates the sibling rows already
    * shape, joins back on the SAME keys, one doc-keyed then one
    * lang-keyed aggregate — no pairwise join, the global threshold a
    * one-row broadcast. Determinism: exact ints throughout; the one
    * ratio is an IEEE division of exact longs, trunc-rounded. */
  val pipelineBoilerplateRewrite: Q = Q(
    "pipeline_boilerplate_rewrite",
    Some(
      "WITH d AS (SELECT doc_id, lang, source, string_split(text, ' ') AS t FROM documents), " +
        "th AS (SELECT greatest(2, cast(ceil(0.001 * count(*)) as bigint)) AS thr FROM documents), " +
        "g AS (SELECT doc_id, lang, source, len(t) AS nt, unnest(generate_series(1, len(t), 16)) AS p0, t " +
        "FROM d WHERE len(t) >= 1), " +
        "para AS (SELECT doc_id, lang, source, nt, array_to_string(t[p0:p0+15], ' ') AS s, " +
        "len(t[p0:p0+15]) AS np, length(array_to_string(t[p0:p0+15], ' ')) AS nc FROM g), " +
        "ghot AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS dfg FROM para GROUP BY s), th " +
        "WHERE dfg >= thr), " +
        "shot AS (SELECT source, s FROM (SELECT source, s, count(DISTINCT doc_id) AS dfs " +
        "FROM para GROUP BY 1, 2) WHERE dfs >= 2), " +
        "j AS (SELECT para.*, (ghot.s IS NOT NULL OR shot.s IS NOT NULL) AS is_hot " +
        "FROM para LEFT JOIN ghot ON para.s = ghot.s " +
        "LEFT JOIN shot ON para.source = shot.source AND para.s = shot.s), " +
        "pd AS (SELECT doc_id, lang, nt, count(*) AS n_paras, " +
        "sum(CASE WHEN is_hot THEN 1 ELSE 0 END) AS n_dropped, " +
        "sum(nc) + (count(*) - 1) AS chars_before, " +
        "nt - sum(CASE WHEN is_hot THEN np ELSE 0 END) AS tokens_after, " +
        "sum(CASE WHEN is_hot THEN 0 ELSE nc END) + " +
        "greatest(count(*) - sum(CASE WHEN is_hot THEN 1 ELSE 0 END) - 1, 0) AS chars_after " +
        "FROM j GROUP BY doc_id, lang, nt) " +
        "SELECT lang, count(*)::BIGINT AS n_docs, " +
        "cast(sum(CASE WHEN n_dropped > 0 THEN 1 ELSE 0 END) as bigint) AS n_docs_touched, " +
        "cast(sum(n_dropped) as bigint) AS n_paras_dropped, " +
        "cast(sum(nt) as bigint) AS n_tokens_before, " +
        "cast(sum(tokens_after) as bigint) AS n_tokens_after, " +
        "cast(sum(chars_before) as bigint) AS n_chars_before, " +
        "cast(sum(chars_after) as bigint) AS n_chars_after, " +
        "cast(sum(CASE WHEN chars_before >= 150 AND nt >= 20 " +
        "AND NOT (chars_after >= 150 AND tokens_after >= 20) THEN 1 ELSE 0 END) as bigint) " +
        "AS n_lost_quality, " +
        Det.oRN("sum(tokens_after)::DOUBLE / sum(nt)", 6) + " AS token_kept_ratio " +
        "FROM pd GROUP BY lang ORDER BY lang"
    ),
    (spark, dir) => {
      val paras = boilerplateParas(spark, dir)
      val perDoc = paras
        .join(boilerplateGlobalHot(spark, dir, paras, "g_hot"), Seq("h"), "left")
        .join(boilerplateSourceHot(paras, "s_hot"), Seq("source", "h"), "left")
        .withColumn("is_hot",
          coalesce(col("g_hot"), lit(false)) || coalesce(col("s_hot"), lit(false)))
        .groupBy(col("doc_id"), col("lang"), col("nt"))
        .agg(
          count(lit(1)).as("n_paras"),
          sum(when(col("is_hot"), 1L).otherwise(0L)).as("n_dropped"),
          (sum(col("nc")) + count(lit(1)) - 1).as("chars_before"),
          (max(col("nt")) - sum(when(col("is_hot"), col("np").cast("long")).otherwise(0L)))
            .as("tokens_after"),
          (sum(when(col("is_hot"), 0L).otherwise(col("nc").cast("long"))) +
            greatest(count(lit(1)) - sum(when(col("is_hot"), 1L).otherwise(0L)) - 1, lit(0L)))
            .as("chars_after")
        )
      perDoc
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_dropped") > 0, 1L).otherwise(0L)).as("n_docs_touched"),
          sum(col("n_dropped")).as("n_paras_dropped"),
          sum(col("nt")).cast("long").as("n_tokens_before"),
          sum(col("tokens_after")).cast("long").as("n_tokens_after"),
          sum(col("chars_before")).cast("long").as("n_chars_before"),
          sum(col("chars_after")).cast("long").as("n_chars_after"),
          sum(when(
            col("chars_before") >= 150 && col("nt") >= 20 &&
              !(col("chars_after") >= 150 && col("tokens_after") >= 20), 1L).otherwise(0L))
            .as("n_lost_quality"),
          Det.rN(sum(col("tokens_after")).cast("double") / sum(col("nt")).cast("double"), 6)
            .as("token_kept_ratio")
        )
        .orderBy(col("lang"))
    }
  )

  /** Exact substring-duplication screen (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): document pairs that
    * share at least one EXACT 8-token n-gram, with the count of shared
    * n-gram types as the evidence weight. The suffix-array approach of
    * the paper is single-machine; the distributed shape is this one —
    * shingle, then equi-join docs through the shingle key.
    *
    * 100 TB: the join is keyed on the shingle (never doc×doc), and the
    * df ∈ [2, 8] candidate gate is the scale valve — an n-gram seen in
    * more than 8 docs is template/boilerplate (dedup_span_coverage's
    * job, not pairing evidence) and would blow the self-join up
    * quadratically; capping df bounds per-key fanout at C(8,2) = 28
    * pairs. Dedup at corpus scale always carries such a hot-key cap
    * (spark.ml's MinHashLSH has the same issue uncapped — measured
    * degenerate in round 3). */
  /** Write-once 8-token-shingle EVIDENCE table: (h = xxhash64(shingle),
    * ds = sorted doc set) for every shingle whose document frequency is
    * in the pairing-evidence band [2, 8] — singletons carry no pair and
    * hot shingles are boilerplate (capped fanout, see
    * [[dedupNgramExact]]). This is the expensive half of the exact
    * substring screen — the full tokenize + shingle explode + one
    * shuffle on the 8-byte hash — and it is a pure function of the
    * corpus, so [[graft.ViewStore]] persists it once per corpus
    * snapshot (input-fingerprinted path, race-safe rename) and the
    * query serves from the parquet. Before r10 every run re-paid the
    * shingle build (#5 slowest in the r9 driver artifact). */
  private[graft] def ngramShingleTablePath(spark: SparkSession, dir: String): String = {
    val t = split(col("text"), " ")
    graft.ViewStore.materialize(spark, "graft_ngram_shingles", dir)(
      Tables
        .documents(spark, dir)
        .select(col("doc_id"), explode(spans(t, 8)).as("s"))
        .select(col("doc_id"), xxhash64(col("s")).as("h"))
        .groupBy(col("h"))
        .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
        .filter(size(col("ds")).between(2, 8)))
  }

  val dedupNgramExact: Q = Q(
    "dedup_ngram_exact",
    Some(
      "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "g AS (SELECT doc_id, unnest(generate_series(1, len(toks)-7)) AS pos, toks FROM t WHERE len(toks) >= 8), " +
        "sh AS (SELECT DISTINCT doc_id, array_to_string(toks[pos:pos+7], ' ') AS s FROM g), " +
        "df AS (SELECT s, count(*) AS df FROM sh GROUP BY s), " +
        "cand AS (SELECT s FROM df WHERE df BETWEEN 2 AND 8) " +
        "SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS n_shared " +
        "FROM sh a JOIN cand USING (s) JOIN sh b USING (s) " +
        "WHERE a.doc_id < b.doc_id GROUP BY 1, 2 ORDER BY ida, idb"
    ),
    (spark, dir) =>
      // no self-join: ONE shuffle on the 8-byte shingle hash builds the
      // per-shingle sorted doc set (collect_set dedups repeat positions),
      // the df ∈ [2, 8] gate drops singletons and hot shingles, and the
      // ≤ C(8,2) pairs per survivor are generated IN-ROW by a nested
      // transform — the string self-join formulation costs two more
      // exchanges and shuffles ~50-char keys for the same pair set.
      // The shingle table itself is the write-once ViewStore view
      // (ngramShingleTablePath) — the query is the in-row pair
      // generation plus one pair-keyed aggregate over its scan.
      spark.read
        .parquet(ngramShingleTablePath(spark, dir))
        .select(
          explode(
            flatten(
              expr("transform(ds, (x, i) -> transform(slice(ds, i + 2, size(ds)), y -> struct(x AS ida, y AS idb)))")
            )
          ).as("p")
        )
        .select(col("p.ida"), col("p.idb"))
        .groupBy(col("ida"), col("idb"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("ida"), col("idb"))
  )

  /** Cross-source duplication matrix — the data-governance rollup of
    * the near-dup pair stream: for every unordered pair of sources,
    * how many jac ≥ 0.8 pairs span them and how similar those pairs
    * are. This is the query behind "does corpus B add anything over
    * corpus A" / "which two providers resell the same crawl": high
    * n_pairs with mean jac near 1 between two sources means one is a
    * re-wrap of the other, and src_a = src_b rows measure a source's
    * internal redundancy.
    *
    * 100 TB: pairs come from the blocked screen (at real scale swap in
    * the MinHash-LSH pair stream — identical downstream shape), and
    * `source` RIDES the existing pair shuffle (the carry param of
    * [[nearJaccardPairs]]) — a ~5-byte tag per exchanged row instead
    * of two extra corpus-keyed equi-joins after the fact. The rollup
    * is a |sources|²-bounded aggregate with map-side partials. Mean
    * jac is an exact decimal sum of per-pair 1e-6-rounded values
    * ([[Det]]) — order-independent. */
  val dedupSourceOverlap: Q = Q(
    "dedup_source_overlap",
    Some(
      "WITH d AS (SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS t FROM documents), " +
        "p AS (SELECT a.source sa, b.source sb, " + Det.oRN(
          oJac("a.t", "b.t"), 6) + " AS jac " +
        "FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id " +
        s"AND ${oLenRatio("a.t", "b.t")}), " +
        "q AS (SELECT least(sa, sb) AS src_a, greatest(sa, sb) AS src_b, jac FROM p WHERE jac >= 0.8) " +
        "SELECT src_a, src_b, count(*) AS n_pairs, " +
        Det.oRN(Det.oAvg("jac"), 6) + " AS mean_jac " +
        "FROM q GROUP BY src_a, src_b ORDER BY src_a, src_b"
    ),
    (spark, dir) => {
      sharedPairs(spark, dir) // materialized pair view — see pairTablePath
        .select(
          least(col("source_a"), col("source_b")).as("src_a"),
          greatest(col("source_a"), col("source_b")).as("src_b"),
          col("jac")
        )
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_pairs"), Det.rN(Det.davg(col("jac")), 6).as("mean_jac"))
        .orderBy(col("src_a"), col("src_b"))
    }
  )

  /** Per-source marginal uniqueness — the licensing/curation metric
    * that pairs with [[dedupSourceOverlap]]: after a global near-dup
    * screen, how much of each source is (a) duplicated in SOME OTHER
    * source (paying for it adds little), (b) duplicated only
    * internally (self-dedup recovers it), (c) fully unique (its
    * marginal contribution). Each doc classifies by the provenance of
    * its near-dup partners; sources roll up with exact integer counts
    * plus one final ratio division.
    *
    * 100 TB: the pair stream is the same blocked screen (or its LSH
    * replacement), with `source` carried through the pair shuffle; the
    * per-doc classification is one doc-keyed aggregate over 2 rows per
    * pair, the left join back to the corpus is doc-keyed (both sides
    * shuffle on the id — no broadcast of corpus-sized tables), and
    * the final rollup is |sources|-bounded. */
  val dedupSourceUnique: Q = Q(
    "dedup_source_unique",
    Some(
      "WITH d AS (SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS t FROM documents), " +
        "p AS (SELECT a.doc_id ida, b.doc_id idb, a.source sa, b.source sb, " +
        s"${oJac("a.t", "b.t")} AS jac " +
        "FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id " +
        s"AND ${oLenRatio("a.t", "b.t")}), " +
        "s AS (SELECT ida AS doc_id, sa AS s, sb AS ps FROM p WHERE jac >= 0.8 " +
        "UNION ALL SELECT idb, sb, sa FROM p WHERE jac >= 0.8), " +
        "pd AS (SELECT doc_id, max(CASE WHEN ps <> s THEN 1 ELSE 0 END) AS x, " +
        "max(CASE WHEN ps = s THEN 1 ELSE 0 END) AS i FROM s GROUP BY doc_id) " +
        "SELECT doc.source AS source, count(*) AS n_docs, " +
        "cast(sum(coalesce(pd.x, 0)) as bigint) AS n_cross_dup, " +
        "cast(sum(CASE WHEN coalesce(pd.i, 0) = 1 AND coalesce(pd.x, 0) = 0 THEN 1 ELSE 0 END) as bigint) AS n_internal_only, " +
        "cast(sum(CASE WHEN pd.doc_id IS NULL THEN 1 ELSE 0 END) as bigint) AS n_unique, " +
        Det.oRN("sum(CASE WHEN pd.doc_id IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)", 6) +
        " AS unique_pct " +
        "FROM documents doc LEFT JOIN pd ON doc.doc_id = pd.doc_id " +
        "GROUP BY doc.source ORDER BY doc.source"
    ),
    (spark, dir) => {
      val p = sharedPairs(spark, dir) // materialized pair view — see pairTablePath
      val sides = p
        .select(col("ida").as("doc_id"), col("source_a").as("s"), col("source_b").as("ps"))
        .unionByName(
          p.select(col("idb").as("doc_id"), col("source_b").as("s"), col("source_a").as("ps"))
        )
      val perDoc = sides
        .groupBy(col("doc_id"))
        .agg(
          max(when(col("ps") =!= col("s"), 1).otherwise(0)).as("x"),
          max(when(col("ps") === col("s"), 1).otherwise(0)).as("i")
        )
      Tables
        .documents(spark, dir)
        .select(col("doc_id"), col("source"))
        .join(perDoc, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(coalesce(col("x"), lit(0))).cast("long").as("n_cross_dup"),
          sum(when(coalesce(col("i"), lit(0)) === 1 && coalesce(col("x"), lit(0)) === 0, 1)
            .otherwise(0)).cast("long").as("n_internal_only"),
          sum(when(col("x").isNull, 1).otherwise(0)).cast("long").as("n_unique"),
          Det.rN(
            sum(when(col("x").isNull, 1).otherwise(0)).cast("double") / count(lit(1)),
            6
          ).as("unique_pct")
        )
        .orderBy(col("source"))
    }
  )

  /** Edit-distance near-dup screen: prefix-blocked pairwise
    * levenshtein over a fixed-length document head — the fuzzy-match
    * flavor the token-set screens ([[dedupNearJaccard]],
    * [[dedupNgramJaccard]]) can't express (character-level edits:
    * typo variants, template fills, OCR noise). Blocking key =
    * (lang, lowercased 12-char prefix); distance is computed on the
    * 128-char head (a cheap fixed-cost proxy — full-text edit distance
    * is O(len²) and never worth it as a screen), kept at ≤ 24.
    *
    * Determinism: levenshtein on identical strings is an exact
    * integer in both engines; no floating point anywhere.
    *
    * 100 TB: the quadratic step is confined to prefix buckets (max
    * bucket 78 docs at sf0.1 → ≤ ~3k comparisons per bucket, each a
    * bounded 128×128 DP), and the exchange carries only
    * (id, lang, 12-char prefix, 128-char head) — never full text. At
    * real scale the same shape runs with a salted bucket cap like
    * [[dedupMinhashLsh]]'s; a prefix key is the standard
    * sorted-neighborhood/blocking compromise for character-level
    * near-dups. */
  val dedupEditDistance: Q = Q(
    "dedup_edit_distance",
    Some(
      "WITH d AS (SELECT doc_id, lang, lower(substr(text, 1, 12)) AS pfx, substr(text, 1, 128) AS head " +
        "FROM documents) " +
        "SELECT a.doc_id AS ida, b.doc_id AS idb, cast(levenshtein(a.head, b.head) as bigint) AS dist " +
        "FROM d a JOIN d b ON a.lang = b.lang AND a.pfx = b.pfx AND a.doc_id < b.doc_id " +
        "WHERE levenshtein(a.head, b.head) <= 24 ORDER BY 1, 2"
    ),
    (spark, dir) => {
      val d = Tables
        .documents(spark, dir)
        .select(
          col("doc_id"),
          col("lang"),
          lower(substring(col("text"), 1, 12)).as("pfx"),
          substring(col("text"), 1, 128).as("head")
        )
      val a = d.select(col("doc_id").as("ida"), col("lang"), col("pfx"), col("head").as("ha"))
      val b = d.select(col("doc_id").as("idb"), col("lang"), col("pfx"), col("head").as("hb"))
      // thresholded levenshtein (Spark 3.5+): banded O(len·k) DP with
      // early exit instead of the full O(len²) table, returning -1
      // above the bound and the EXACT distance at or below it — so the
      // kept rows and their dist values are identical to the unbounded
      // spelling (the oracle keeps the plain levenshtein ≤ 24, same
      // set). Matters twice over: Catalyst pushes the dist filter into
      // the join condition AND keeps it in the projection, so every
      // candidate pair pays the DP in the join and every survivor pays
      // it again — the band cuts both evaluations.
      a.join(b, Seq("lang", "pfx"))
        .filter(col("ida") < col("idb"))
        .select(col("ida"), col("idb"),
          levenshtein(col("ha"), col("hb"), 24).cast("long").as("dist"))
        .filter(col("dist") >= 0)
        .orderBy(col("ida"), col("idb"))
    }
  )

  /** Content-defined chunking (CDC) dedup: cut each document into
    * chunks at CONTENT-DEFINED boundaries — a token ends a chunk when
    * its hash ≡ 0 (mod 8), the memoryless gear/Rabin-style cut rule —
    * then count, per document, how many of its chunks (and what token
    * fraction) recur verbatim anywhere else in the corpus. This is the
    * storage/dataset-dedup flavor [[textChunk]]'s fixed stride cannot
    * express: a fixed-stride chunker loses every alignment downstream
    * of one inserted token, while content-defined boundaries re-
    * synchronize immediately, so shared passages between near-copies
    * keep hashing to the same chunks (expected chunk length = 8
    * tokens; a forced cut every [[MaxChunkTokens]] tokens within a
    * segment clamps the tail of the geometric length distribution —
    * see [[cdcChunks]]).
    *
    * Scale shape: one explode, a PARTITIONED (per-doc) running sum for
    * chunk ids, a (doc, chunk)-keyed aggregate, a chunk-hash-keyed
    * count, one equi-join back on the hash, one doc-keyed aggregate —
    * every step key-partitioned with bounded fanout, no all-pairs
    * anywhere, and the exchange after chunking carries 16-byte hashes,
    * never text. Determinism: md5-derived boundaries and chunk keys
    * (cross-engine exact), ordered string_agg/array_join
    * reconstruction, exact counts; the one division is guarded by
    * n_tokens ≥ 1 (every doc has at least one token). */
  /** Hard upper bound on CDC chunk length, in tokens. The bare gear
    * rule is memoryless: a document with NO hash≡0 token anywhere
    * would become ONE chunk — a `collect_list` of the entire doc in a
    * single window group, a straggler/OOM at 100 TB doc lengths
    * (VERDICT r14 #2). The standard max-bound forces a cut every
    * MaxChunkTokens tokens WITHIN a natural segment, relative to the
    * segment's start — so the clamp never moves a natural boundary
    * and re-synchronization after an edit is preserved: downstream
    * SEGMENTS still re-align at the first natural cut, only forced
    * sub-cuts inside the edited segment can shift. */
  private[graft] val MaxChunkTokens = 64

  /** The CDC chunker itself: (doc_id, chunk_id, n_tok, ck) for any
    * frame with (doc_id, text). Exposed so DedupSpec can pin the
    * defining CDC property — boundaries RE-SYNCHRONIZE after an edit
    * (a one-token insertion changes only chunks inside the segment it
    * lands in, where a fixed-stride chunker loses every downstream
    * alignment) — and the [[MaxChunkTokens]] clamp (a boundary-free
    * doc chunks into ≤64-token pieces, never one giant chunk). */
  private[graft] def cdcChunks(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = split(col("text"), " ")
    val tok = docs.select(col("doc_id"), posexplode(t).as(Seq("pos", "tok")))
    val w = Window
      .partitionBy(col("doc_id"))
      .orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // same partition+order spec, frame ending one row earlier. The
    // chunk_id sum consumes the seg_start window's OUTPUT, so Spark
    // plans TWO Window nodes — but over ONE exchange and ONE sort on
    // (doc_id, pos): the second window's required distribution and
    // ordering are already satisfied by the first's (verified on the
    // executed plan: 2 Window, 1 Exchange, 1 Sort). The expensive
    // parts are shared; only the per-row window evaluation doubles.
    val wPrev = Window
      .partitionBy(col("doc_id"))
      .orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    tok
      .withColumn("b", when(Sampling.hkey(col("tok")) % 8 === 0, 1).otherwise(0))
      // current segment start = one past the last NATURAL boundary
      // strictly before this token (doc start for the first segment)
      .withColumn(
        "seg_start",
        coalesce(max(when(col("b") === 1, col("pos"))).over(wPrev) + 1, lit(0)))
      // effective cut = natural boundary OR forced max-length clamp
      // (relative offset within the segment hits a MaxChunkTokens
      // multiple) — chunk length can never exceed MaxChunkTokens
      .withColumn(
        "e",
        when(
          col("b") === 1 ||
            (col("pos") - col("seg_start") + 1) % MaxChunkTokens === 0, 1)
          .otherwise(0))
      .withColumn("chunk_id", (sum(col("e")).over(w) - col("e")).cast("long"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(
        count(lit(1)).cast("long").as("n_tok"),
        md5(array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")),
          " ")).as("ck")
      )
  }

  /** Write-once CDC chunk table — [[graft.ViewStore]] discipline: a
    * doc's chunk rows are a pure per-document function of its text
    * (the same ingest-product argument as every signature table), so
    * the corpus is chunked ONCE per snapshot and every consumer — the
    * corpus dup report, the incremental passage screen, the streaming
    * maintenance twin — reads (doc_id, chunk_id, n_tok, ck) rows
    * instead of re-exploding the text. */
  private[graft] def cdcChunkTablePath(spark: SparkSession, dir: String): String =
    // buildVersion 2: the r15 MaxChunkTokens clamp changed the
    // derivation (standing ViewStore rule — bump on ANY derivation
    // change so a stale same-fingerprint store can't serve old chunks)
    graft.ViewStore.materialize(spark, "graft_cdc_chunks", dir, buildVersion = 2)(
      cdcChunks(Tables.documents(spark, dir)))

  private def cdcChunkTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(cdcChunkTablePath(spark, dir))

  /** The chunk-table derivation as oracle CTEs (`ch` = the view's
    * (doc_id, chunk_id, n_tok, ck) rows) — shared by the corpus dup
    * report and the incremental passage screen so both oracles replay
    * literally the same chunking. */
  private val cdcOracleCtes: String =
    "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok, " +
      "generate_subscripts(string_split(text, ' '), 1) AS pos FROM documents), " +
      s"m AS (SELECT doc_id, pos, tok, CASE WHEN ${Sampling.oHkey("tok")} % 8 = 0 " +
      "THEN 1 ELSE 0 END AS b FROM tok), " +
      // seg_start mirrors the engine: one past the last natural
      // boundary strictly before this token; DuckDB pos is 1-based
      // (generate_subscripts) where Spark's posexplode is 0-based, so
      // the doc-start fallback is 1 here vs 0 there — the RELATIVE
      // offset (pos - seg_start + 1) is identical in both engines
      "sg AS (SELECT doc_id, pos, tok, b, coalesce(max(CASE WHEN b = 1 THEN pos END) " +
      "OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1, 1) AS seg_start FROM m), " +
      s"ef AS (SELECT doc_id, pos, tok, CASE WHEN b = 1 OR " +
      s"(pos - seg_start + 1) % $MaxChunkTokens = 0 THEN 1 ELSE 0 END AS e FROM sg), " +
      "c AS (SELECT doc_id, pos, tok, sum(e) OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - e AS chunk_id FROM ef), " +
      "ch AS (SELECT doc_id, chunk_id, cast(count(*) as bigint) AS n_tok, " +
      "md5(string_agg(tok, ' ' ORDER BY pos)) AS ck FROM c GROUP BY doc_id, chunk_id)"

  val dedupCdcChunks: Q = Q(
    "dedup_cdc_chunks",
    Some(
      s"WITH $cdcOracleCtes, " +
        "nd AS (SELECT ck, count(DISTINCT doc_id) AS nd FROM ch GROUP BY ck) " +
        "SELECT ch.doc_id, cast(count(*) as bigint) AS n_chunks, " +
        "cast(sum(CASE WHEN nd.nd > 1 THEN 1 ELSE 0 END) as bigint) AS n_dup_chunks, " +
        "cast(sum(ch.n_tok) as bigint) AS n_tokens, " +
        Det.oRN("sum(CASE WHEN nd.nd > 1 THEN ch.n_tok ELSE 0 END)::DOUBLE / sum(ch.n_tok)::DOUBLE", 6) +
        " AS dup_token_frac " +
        "FROM ch JOIN nd USING (ck) GROUP BY ch.doc_id ORDER BY ch.doc_id"
    ),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val chunks = cdcChunkTable(spark, dir)
      // distinct-doc count per chunk key WITHOUT a join back (a
      // self-join on ck would scan the chunk view once per side —
      // and, before the view existed, recomputed the whole
      // explode+window+agg chunk subtree twice, measured in the r14
      // plan dump): dense_rank over doc_id within the ck partition,
      // then its max over the same partition — both windows share ONE
      // exchange+sort on ck.
      val wOrd = Window.partitionBy(col("ck")).orderBy(col("doc_id"))
      val wAll = Window.partitionBy(col("ck"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      chunks
        .withColumn("nd", max(dense_rank().over(wOrd)).over(wAll))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).cast("long").as("n_chunks"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).cast("long").as("n_dup_chunks"),
          sum(col("n_tok")).cast("long").as("n_tokens"),
          Det.rN(
            sum(when(col("nd") > 1, col("n_tok")).otherwise(0L)).cast("double") /
              sum(col("n_tok")).cast("double"),
            6).as("dup_token_frac")
        )
        .orderBy(col("doc_id"))
    }
  )

  /** Incremental PASSAGE screen at ingest: the daily batch (the same
    * `doc_id % 10 = 0` convention as [[dedupIncremental]]) checked
    * against the persisted corpus chunk table for verbatim-copied
    * passages — the chunk-level complement of the whole-document
    * screens: a doc that copies half its text from the training set
    * passes every whole-doc Jaccard screen, but its copied CDC chunks
    * hash straight into the view. Per new doc: chunks, chunks already
    * in the corpus, copied token fraction, and the admit verdict
    * (admitted when < 50% of its tokens are recycled).
    *
    * Scale shape: both sides read the write-once chunk view ([[
    * cdcChunkTablePath]]) with the split predicate pushed to the scan;
    * the corpus side is projected to DISTINCT 16-byte chunk keys
    * before the join (never text, never n_tok), the join is ck-keyed,
    * and the result aggregates to batch-sized rows. Determinism:
    * md5 keys, exact counts, one IEEE division; the verdict compares
    * the unrounded fraction identically in both engines. */
  val dedupCdcIncremental: Q = Q(
    "dedup_cdc_incremental",
    Some(
      s"WITH $cdcOracleCtes, " +
        "nb AS (SELECT * FROM ch WHERE doc_id % 10 = 0), " +
        "corp AS (SELECT DISTINCT ck FROM ch WHERE doc_id % 10 <> 0), " +
        "j AS (SELECT nb.doc_id, nb.n_tok, corp.ck IS NOT NULL AS known " +
        "FROM nb LEFT JOIN corp ON nb.ck = corp.ck) " +
        "SELECT doc_id, cast(count(*) as bigint) AS n_chunks, " +
        "cast(sum(CASE WHEN known THEN 1 ELSE 0 END) as bigint) AS n_known_chunks, " +
        Det.oRN("sum(CASE WHEN known THEN n_tok ELSE 0 END)::DOUBLE / sum(n_tok)::DOUBLE", 6) +
        " AS copied_token_frac, " +
        "sum(CASE WHEN known THEN n_tok ELSE 0 END)::DOUBLE / sum(n_tok)::DOUBLE < 0.5 AS admitted " +
        "FROM j GROUP BY doc_id ORDER BY doc_id"
    ),
    (spark, dir) => {
      val view = cdcChunkTable(spark, dir)
      val batch = view.filter(col("doc_id") % 10 === 0)
      val corp = view.filter(col("doc_id") % 10 =!= 0).select(col("ck")).distinct()
      val copiedFrac =
        sum(when(col("known"), col("n_tok")).otherwise(0L)).cast("double") /
          sum(col("n_tok")).cast("double")
      batch
        .join(corp.withColumn("known", lit(true)), Seq("ck"), "left")
        .withColumn("known", coalesce(col("known"), lit(false)))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).cast("long").as("n_chunks"),
          sum(when(col("known"), 1L).otherwise(0L)).cast("long").as("n_known_chunks"),
          Det.rN(copiedFrac, 6).as("copied_token_frac"),
          (copiedFrac < 0.5).as("admitted")
        )
        .orderBy(col("doc_id"))
    }
  )

  /** TRAIN/VAL SPLIT-LEAKAGE AUDIT — the eval-integrity check every
    * training pipeline must run before trusting a validation number:
    * split the corpus on the engine's standard deterministic hash
    * boundary ([[Sampling.hkey]] % 10 — the same cut
    * `sample_holdout`-style rows and [[Ml.mlNaiveBayes]] use), then
    * count jac ≥ 0.8 near-duplicate pairs that STRADDLE the split.
    * Every straddling pair is a validation document whose near-copy
    * was trained on — its eval signal is memorization, not
    * generalization. One summary row: split sizes, manifest pairs,
    * leaking pairs, distinct contaminated val docs, and the two rates.
    *
    * Scale shape: the pair stream is the persisted manifest (never
    * recomputed), and the split flag is a PURE FUNCTION of doc_id —
    * computed inline on each endpoint, so NO join ever touches the
    * pair stream: the whole audit is map-side projections into two
    * bounded aggregates (one countDistinct over the leaking val ids,
    * bounded by the leak count). A hash split is exactly what makes
    * this free — a random split would need a doc-keyed join per
    * endpoint. Determinism: md5-derived split (cross-engine exact),
    * exact counts, two IEEE divisions of exact longs. */
  val pipelineSplitLeakage: Q = Q(
    "pipeline_split_leakage",
    Some(
      "WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t FROM documents), " +
        "p AS (SELECT a.doc_id ida, b.doc_id idb, " +
        s"${oJac("a.t", "b.t")} AS jac " +
        "FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id " +
        s"AND ${oLenRatio("a.t", "b.t")}), " +
        "pr AS (SELECT ida, idb FROM p WHERE jac >= 0.8), " +
        s"fl AS (SELECT ida, idb, CASE WHEN ${Sampling.oHkey("ida")} % 10 = 0 THEN 1 ELSE 0 END AS va, " +
        s"CASE WHEN ${Sampling.oHkey("idb")} % 10 = 0 THEN 1 ELSE 0 END AS vb FROM pr), " +
        "leak AS (SELECT CASE WHEN va = 1 THEN ida ELSE idb END AS vid FROM fl WHERE va != vb), " +
        s"s AS (SELECT CASE WHEN ${Sampling.oHkey("doc_id")} % 10 = 0 THEN 1 ELSE 0 END AS is_val FROM documents) " +
        "SELECT " +
        "(SELECT cast(count(*) as bigint) FROM s WHERE is_val = 0) AS n_train, " +
        "(SELECT cast(count(*) as bigint) FROM s WHERE is_val = 1) AS n_val, " +
        "(SELECT cast(count(*) as bigint) FROM pr) AS n_pairs, " +
        "(SELECT cast(count(*) as bigint) FROM leak) AS n_leak, " +
        "(SELECT cast(count(DISTINCT vid) as bigint) FROM leak) AS n_val_contam, " +
        // nullif guards: on an empty manifest (or an all-train split)
        // DuckDB's IEEE double division yields NaN/inf where Spark's
        // non-ANSI Divide yields NULL — nullif-ing the denominator
        // makes BOTH engines emit NULL, keeping the degenerate-but-
        // legal input a value match (ADVICE r13).
        Det.oRN(
          "(SELECT count(*) FROM leak)::DOUBLE / nullif((SELECT count(*) FROM pr), 0)::DOUBLE",
          6) + " AS leak_rate, " +
        Det.oRN(
          "(SELECT count(DISTINCT vid) FROM leak)::DOUBLE / nullif((SELECT count(*) FROM s WHERE is_val = 1), 0)::DOUBLE",
          6) + " AS contam_rate"
    ),
    (spark, dir) => {
      import org.apache.spark.sql.functions.broadcast
      val isVal = (c: Column) => when(Sampling.hkey(c) % 10 === 0, 1).otherwise(0)
      val splits = Tables.documents(spark, dir)
        .select(isVal(col("doc_id")).as("is_val"))
        .agg(
          sum(when(col("is_val") === 0, 1L).otherwise(0L)).as("n_train"),
          sum(when(col("is_val") === 1, 1L).otherwise(0L)).as("n_val"))
      // ONE pass over the manifest (r20, VERDICT r19 #4): the pair
      // total and the leak stats used to be two separate aggregates
      // over `flagged`, i.e. two scans of the 759k-row manifest per
      // run; conditional aggregation folds them into one scan-and-
      // combine (countDistinct ignores the NULL vid of non-straddling
      // pairs, so the merged spelling is value-identical).
      val flagged = sharedPairs(spark, dir)
        .select(col("ida"), col("idb"),
          isVal(col("ida")).as("va"), isVal(col("idb")).as("vb"))
      val pairStats = flagged
        .select(
          (col("va") =!= col("vb")).as("straddles"),
          when(col("va") === 1, col("ida")).otherwise(col("idb")).as("vid"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("straddles"), 1L).otherwise(0L)).as("n_leak"),
          countDistinct(when(col("straddles"), col("vid"))).as("n_val_contam"))
      splits
        .crossJoin(broadcast(pairStats)) // bounded: every side is ONE row
        .select(
          col("n_train"), col("n_val"), col("n_pairs"), col("n_leak"), col("n_val_contam"),
          // Explicit zero-denominator guard mirroring the oracle's
          // nullif: non-ANSI Divide already NULLs on /0, but spelling
          // it out keeps the row correct under ANSI mode too.
          Det.rN(col("n_leak").cast("double") /
            when(col("n_pairs") === 0, lit(null)).otherwise(col("n_pairs")).cast("double"), 6)
            .as("leak_rate"),
          Det.rN(col("n_val_contam").cast("double") /
            when(col("n_val") === 0, lit(null)).otherwise(col("n_val")).cast("double"), 6)
            .as("contam_rate"))
    }
  )

  def qs: Seq[Q] = Seq(
    dedupExact, dedupNearJaccard, dedupEmbedCosine, dedupNgramJaccard, dedupNgramBlockingProbe,
    dedupSimhash,
    dedupSimhashPairs, dedupMinhashLsh, dedupMinhashLsh16, dedupLshRecallReport, dedupClusters, dedupReport,
    dedupSoftWeights,
    dedupThresholdCurve,
    dedupBestOfCluster, dedupContainment, dedupIncremental, dedupIncrementalPersisted,
    dedupMinhashIncremental, dedupPairsIncremental,
    dedupSpanCoverage, dedupBoilerplate, dedupBoilerplateGlobal, pipelineBoilerplateRewrite,
    dedupNgramExact,
    dedupSourceOverlap, dedupSourceUnique,
    dedupEditDistance, dedupCdcChunks, dedupCdcIncremental, pipelineSplitLeakage
  )
}
