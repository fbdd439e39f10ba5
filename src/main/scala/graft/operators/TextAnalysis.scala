package graft.operators

import graft.{Det, Lineage, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: corpus stats, tf-idf,
  * language-ID heuristic, quality scoring, tokenizer comparison, and
  * document fingerprinting.
  *
  * 100 TB notes: everything is either a map-side scalar pipeline or a
  * (lang, source)/(token)-keyed aggregation — one shuffle each, partial
  * aggregation applies, no driver-side state. tf-idf joins a per-token
  * document-frequency table (small: one row per vocab token) back to
  * the exploded corpus — broadcast-able at any corpus size as long as
  * the vocabulary fits in memory.
  */
object TextAnalysis {

  private def toks(c: Column): Column = split(c, " ")

  /** Corpus statistics per (lang, source): doc count, deterministic
    * avg chars & tokens, distinct vocabulary size. */
  val textStats: Q = Q(
    "text_stats",
    Some(
      "WITH base AS (SELECT lang, source, count(*) AS n_docs, " +
        Det.oRN(Det.oAvg("n_chars"), 6) + " AS avg_chars, " +
        Det.oRN(Det.oAvg("len(string_split(text, ' '))"), 6) + " AS avg_toks " +
        "FROM documents GROUP BY lang, source), " +
        "voc AS (SELECT lang, source, count(DISTINCT tok) AS n_vocab FROM " +
        "(SELECT lang, source, unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY lang, source) " +
        "SELECT base.*, voc.n_vocab FROM base JOIN voc USING (lang, source) ORDER BY lang, source"
    ),
    (spark, dir) => {
      val d = Tables.documents(spark, dir)
      val base = d
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          Det.rN(Det.davg(col("n_chars")), 6).as("avg_chars"),
          Det.rN(Det.davg(size(toks(col("text")))), 6).as("avg_toks")
        )
      val voc = d
        .select(col("lang"), col("source"), explode(toks(col("text"))).as("tok"))
        .groupBy(col("lang"), col("source"))
        .agg(countDistinct(col("tok")).as("n_vocab"))
      base.join(voc, Seq("lang", "source")).orderBy(col("lang"), col("source"))
    }
  )

  /** Per-doc top-1 token by tf-idf (idf = ln(N/df), tiebreak token
    * asc). df comes from a distinct (doc, token) aggregation; N is a
    * broadcast scalar. */
  val textTfidfTop: Q = Q(
    "text_tfidf_top",
    Some(
      "WITH dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "tf AS (SELECT doc_id, tok, count(*) AS tf FROM dt GROUP BY doc_id, tok), " +
        "df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM dt GROUP BY tok), " +
        "n AS (SELECT count(*) AS n FROM documents), " +
        "s AS (SELECT tf.doc_id, tf.tok, " + Det.oRN("tf.tf * ln(n.n::DOUBLE / df.df)", 6) + " AS score " +
        "FROM tf JOIN df USING (tok) CROSS JOIN n), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rn FROM s) " +
        "SELECT doc_id, tok AS top_token, score FROM r WHERE rn = 1 ORDER BY doc_id"
    ),
    (spark, dir) => {
      val dt = Tables
        .documents(spark, dir)
        .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      val tf = dt.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      // df derives from tf: the tf table carries exactly one row per
      // (doc, distinct token-in-doc), so the row count per token IS the
      // document frequency — exact, and one tokenize+explode pass
      // instead of two (the countDistinct spelling re-exploded the
      // corpus and held a doc-id hash set per token; this is a plain
      // partial-aggregating count over the already-aggregated table).
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = Tables.documents(spark, dir).agg(count(lit(1)).cast("double").as("n"))
      val scored = tf
        .join(broadcast(df), Seq("tok"))
        .crossJoin(broadcast(n))
        .withColumn("score", Det.rN(col("tf") * log(col("n") / col("df")), 6))
        .select(col("doc_id"), col("tok"), col("score"))
      // argmax via the custom TopKPerGroup operator (k=1): the scored
      // rows are pruned to one per doc per partition map-side instead
      // of shuffling every (doc, token) score into a window sort
      org.apache.spark.sql.graftx
        .TopKPerGroup(scored, Seq("doc_id"), Seq("score" -> true, "tok" -> false), 1)
        .select(col("doc_id"), col("tok").as("top_token"), col("score"))
        .orderBy(col("doc_id"))
    }
  )

  /** Marker words per language for the n-gram language-ID heuristic —
    * public-knowledge high-frequency words; scoring = how many marker
    * words occur in the text, argmax with (score desc, lang asc)
    * tiebreak and 'und' (undetermined) when every score is 0. */
  private[graft] val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "nicht", "ist"),
    "en" -> Seq("the", "and", "of", "is", "not"),
    "es" -> Seq("el", "la", "de", "que", "no"),
    "fr" -> Seq("le", "la", "et", "que", "pas"),
    "zh" -> Seq("的", "是", "不", "了", "在")
  )

  /** Language-ID over the token set. On this corpus (a shared 31-word
    * engine-themed vocabulary) every doc scores 0 and lands on 'und' —
    * the operator's contract is determinism and the scoring shape, not
    * accuracy on synthetic text. */
  val textLangid: Q = Q(
    "text_langid", {
      val scoreSql = langMarkers
        .map { case (lg, ws) =>
          val hits = ws.map(w => s"CASE WHEN list_contains(t, '$w') THEN 1 ELSE 0 END").mkString(" + ")
          s"($hits) AS score_$lg"
        }
        .mkString(", ")
      val structs = langMarkers
        .map { case (lg, _) => s"{'s': -score_$lg, 'l': '$lg'}" }
        .mkString(", ")
      Some(
        s"WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t FROM documents), " +
          s"s AS (SELECT doc_id, lang, $scoreSql FROM d), " +
          s"best AS (SELECT *, list_sort([$structs])[1] AS b FROM s) " +
          "SELECT doc_id, lang AS labeled_lang, " +
          "CASE WHEN b['s'] = 0 THEN 'und' ELSE b['l'] END AS pred_lang, " +
          "cast(-b['s'] as int) AS best_score FROM best ORDER BY doc_id"
      )
    },
    (spark, dir) => {
      val d = Tables
        .documents(spark, dir)
        .select(col("doc_id"), col("lang"), array_distinct(toks(col("text"))).as("t"))
      val scored = langMarkers.foldLeft(d) { case (df, (lg, ws)) =>
        df.withColumn(
          s"score_$lg",
          ws.map(w => when(array_contains(col("t"), w), 1).otherwise(0)).reduce(_ + _)
        )
      }
      // argmax via sorted array of (-score, lang) structs: struct order
      // compares fields in sequence, exactly like DuckDB's list_sort on
      // {'s':…, 'l':…} structs.
      val best = sort_array(
        array(langMarkers.map { case (lg, _) =>
          struct((-col(s"score_$lg")).as("s"), lit(lg).as("l"))
        }: _*)
      ).getItem(0)
      scored
        .withColumn("b", best)
        .select(
          col("doc_id"),
          col("lang").as("labeled_lang"),
          when(col("b.s") === 0, "und").otherwise(col("b.l")).as("pred_lang"),
          (-col("b.s")).cast("int").as("best_score")
        )
        .orderBy(col("doc_id"))
    }
  )

  /** The quality-composite stopword list — one definition for every
    * consumer of [[qualityScore]] (and the oracle strings that inline
    * it verbatim). */
  private[graft] val qualityStopwords: Seq[String] =
    Seq("the", "and", "of", "a", "in", "key", "row")

  /** The UNROUNDED quality composite over (n_chars, token array) —
    * THE single definition of the engine's document quality score,
    * shared by [[textQuality]] (which also reports the rounded
    * component ratios) and
    * [[graft.operators.Sampling.pipelineTokenBudget]] (which orders
    * the token-budget cut by it): the budget row's entire keep/cut
    * decision rides on this exact IEEE operation order matching the
    * oracle's, so a drive-by edit to "one copy" of the formula must be
    * impossible — there is one copy (VERDICT r14 #6; SamplingSpec pins
    * the two rows' scores equal per doc). All inputs are exact ints;
    * the arithmetic is bit-identical cross-engine (the precedent
    * text_quality's hash match established). */
  private[graft] def qualityScore(nChars: Column, t: Column): Column =
    lit(0.4) * when(nChars.between(100, 400), 1.0).otherwise(0.0) +
      lit(0.3) * (size(filter(t, x => length(x) > 4)).cast("double") / size(t)) +
      lit(0.2) * (lit(1.0) - size(filter(t, x =>
        array_contains(array(qualityStopwords.map(lit): _*), x))).cast("double") / size(t)) +
      lit(0.1) * least((nChars.cast("double") / size(t)) / 10, lit(1.0))

  /** The DuckDB spelling of [[qualityScore]] — ONE oracle copy for the
    * same one-definition reason (shared by the token-budget cut and the
    * corpus-build composition): `nChars`/`t` are the SQL expressions for
    * the char count and the token list. Operation order mirrors
    * [[qualityScore]] term by term so the IEEE doubles stay
    * bit-identical. */
  private[operators] def oQualityScore(nChars: String, t: String): String =
    s"0.4 * (CASE WHEN $nChars BETWEEN 100 AND 400 THEN 1.0 ELSE 0.0 END) + " +
      s"0.3 * (len(list_filter($t, x -> length(x) > 4))::DOUBLE / len($t)) + " +
      s"0.2 * (1 - len(list_filter($t, x -> list_contains(['the','and','of','a','in','key','row'], x)))::DOUBLE / len($t)) + " +
      s"0.1 * least(($nChars::DOUBLE / len($t)) / 10, 1.0)"

  /** Quality scoring: length band, mean token length, stopword ratio,
    * long-token ratio → weighted composite in [0,1]. All ratios are
    * ratios of exact ints — identical across engines before the final
    * rounding. The composite itself is [[qualityScore]]. */
  val textQuality: Q = Q(
    "text_quality",
    Some(
      "WITH d AS (SELECT doc_id, n_chars, string_split(text, ' ') AS t FROM documents), " +
        "f AS (SELECT doc_id, n_chars, len(t) AS n_toks, " +
        "CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1.0 ELSE 0.0 END AS len_ok, " +
        "len(list_filter(t, x -> length(x) > 4))::DOUBLE / len(t) AS long_ratio, " +
        "len(list_filter(t, x -> list_contains(['the','and','of','a','in','key','row'], x)))::DOUBLE / len(t) AS stop_ratio, " +
        "n_chars::DOUBLE / len(t) AS chars_per_tok FROM d) " +
        "SELECT doc_id, n_toks, " + Det.oRN("long_ratio", 6) + " AS long_ratio, " +
        Det.oRN("stop_ratio", 6) + " AS stop_ratio, " + Det.oRN("chars_per_tok", 6) + " AS chars_per_tok, " +
        Det.oRN("0.4 * len_ok + 0.3 * long_ratio + 0.2 * (1 - stop_ratio) + 0.1 * least(chars_per_tok / 10, 1.0)", 6) +
        " AS quality FROM f ORDER BY doc_id"
    ),
    (spark, dir) => {
      val d = Tables
        .documents(spark, dir)
        .select(col("doc_id"), col("n_chars"), toks(col("text")).as("t"))
        .select(
          col("doc_id"),
          size(col("t")).as("n_toks"),
          (size(filter(col("t"), x => length(x) > 4)).cast("double") / size(col("t")))
            .as("long_ratio_raw"),
          (size(filter(col("t"), x => array_contains(array(qualityStopwords.map(lit): _*), x)))
            .cast("double") / size(col("t"))).as("stop_ratio_raw"),
          (col("n_chars").cast("double") / size(col("t"))).as("cpt_raw"),
          // the SHARED composite (one definition engine-wide) — same
          // IEEE value as composing from the named raws above: the
          // expression tree repeats the ratio subtrees inline, it
          // never reorders an operation
          qualityScore(col("n_chars"), col("t")).as("q_raw")
        )
      d.select(
        col("doc_id"),
        col("n_toks").cast("long").as("n_toks"),
        Det.rN(col("long_ratio_raw"), 6).as("long_ratio"),
        Det.rN(col("stop_ratio_raw"), 6).as("stop_ratio"),
        Det.rN(col("cpt_raw"), 6).as("chars_per_tok"),
        Det.rN(col("q_raw"), 6).as("quality")
      ).orderBy(col("doc_id"))
    }
  )

  /** Tokenizer comparison: whitespace tokens vs a BPE-ish regex
    * tokenizer (letter runs / digit runs / single non-alnum marks). */
  val textTokens: Q = Q(
    "text_tokens",
    Some(
      "SELECT doc_id, len(string_split(text, ' ')) AS ws_toks, " +
        "len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS bpe_toks, " +
        "length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct " +
        "FROM documents ORDER BY doc_id"
    ),
    (spark, dir) =>
      Tables
        .documents(spark, dir)
        .select(
          col("doc_id"),
          size(toks(col("text"))).cast("long").as("ws_toks"),
          size(expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)")).cast("long").as("bpe_toks"),
          (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("long").as("n_punct")
        )
        .orderBy(col("doc_id"))
  )

  /** Document fingerprinting: (a) a rolling polynomial hash over
    * md5-derived token hashes (order-sensitive, mod 1e9+7 — no
    * overflow: acc < 2^35), and (b) a winnowing-style min-shingle
    * fingerprint (min md5 over token bigrams). */
  val textFingerprint: Q = Q(
    "text_fingerprint",
    Some(
      "WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "h AS (SELECT doc_id, list_transform(t, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs, " +
        "list_filter(list_transform(list_zip(t, t[2:]), x -> x[1] || ' ' || x[2]), v -> v IS NOT NULL) AS bg FROM d) " +
        "SELECT doc_id, list_reduce([0] || hs, (a, b) -> (a * 31 + b) % 1000000007) AS roll_hash, " +
        "list_min(list_transform(bg, s -> md5(s))) AS min_shingle " +
        "FROM h ORDER BY doc_id"
    ),
    (spark, dir) => {
      val t = toks(col("text"))
      val hs = transform(t, x => conv(substring(md5(x), 1, 8), 16, 10).cast("long"))
      val bg = filter(
        zip_with(t, slice(t, lit(2), greatest(size(t) - 1, lit(0))), (x, y) => concat(x, lit(" "), y)),
        v => v.isNotNull
      )
      Tables
        .documents(spark, dir)
        .select(
          col("doc_id"),
          aggregate(hs, lit(0L), (acc, h) => (acc * 31 + h) % 1000000007L).as("roll_hash"),
          array_min(transform(bg, s => md5(s))).as("min_shingle")
        )
        .orderBy(col("doc_id"))
    }
  )

  /** PII redaction: email/phone patterns → placeholder tokens. The
    * corpus itself is clean, so each doc gets a synthetic contact line
    * derived from doc_id appended BEFORE redaction — the query then
    * proves the scrubber finds and replaces exactly those spans (and
    * emits the redaction counts a pipeline would log). Same regexes in
    * both engines (character-class syntax only, no dialect-specific
    * escapes). */
  val textPiiRedact: Q = Q(
    "text_pii_redact",
    Some(
      "WITH aug AS (SELECT doc_id, text || ' contact user' || doc_id || '@example.com or 555-01' || " +
        "lpad(cast(doc_id % 100 as varchar), 2, '0') AS t FROM documents), " +
        "red AS (SELECT doc_id, " +
        "regexp_replace(regexp_replace(t, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+[a-zA-Z]', '[EMAIL]', 'g'), " +
        "'[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS redacted, t FROM aug) " +
        "SELECT doc_id, redacted, " +
        "len(regexp_extract_all(t, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+[a-zA-Z]')) AS n_emails, " +
        "len(regexp_extract_all(t, '[0-9]{3}-[0-9]{4}')) AS n_phones " +
        "FROM red ORDER BY doc_id"
    ),
    (spark, dir) => {
      val emailRe = "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+[a-zA-Z]"
      val phoneRe = "[0-9]{3}-[0-9]{4}"
      Tables
        .documents(spark, dir)
        .withColumn(
          "t",
          concat(
            col("text"),
            lit(" contact user"),
            col("doc_id"),
            lit("@example.com or 555-01"),
            lpad((col("doc_id") % 100).cast("string"), 2, "0")
          )
        )
        .select(
          col("doc_id"),
          regexp_replace(regexp_replace(col("t"), emailRe, "[EMAIL]"), phoneRe, "[PHONE]")
            .as("redacted"),
          size(expr(s"regexp_extract_all(t, '$emailRe', 0)")).cast("long").as("n_emails"),
          size(expr(s"regexp_extract_all(t, '$phoneRe', 0)")).cast("long").as("n_phones")
        )
        .orderBy(col("doc_id"))
    }
  )

  /** Corpus score report: the benchmark-report shape (named metric →
    * value rows) that a batch pipeline emits after a processing run —
    * corpus size, quality aggregate, near-dup pressure, vocabulary
    * stats — assembled from the engine's own operators via UNION ALL
    * of scalar aggregates. */
  val reportScores: Q = Q(
    "report_scores",
    Some(
      "SELECT 'n_docs' AS metric, count(*)::DOUBLE AS value FROM documents " +
        "UNION ALL SELECT 'n_langs', count(DISTINCT lang)::DOUBLE FROM documents " +
        "UNION ALL SELECT 'n_sources', count(DISTINCT source)::DOUBLE FROM documents " +
        "UNION ALL SELECT 'avg_chars', " + Det.oRN(Det.oAvg("n_chars"), 4) + " FROM documents " +
        "UNION ALL SELECT 'vocab_size', count(DISTINCT tok)::DOUBLE FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS tok FROM documents) " +
        "UNION ALL SELECT 'exact_dup_groups', count(*)::DOUBLE FROM " +
        "(SELECT sha256(text) FROM documents GROUP BY 1 HAVING count(*) > 1) " +
        "ORDER BY metric"
    ),
    (spark, dir) => {
      val d = Tables.documents(spark, dir)
      val nDocs = d.agg(count(lit(1)).cast("double").as("value"))
        .select(lit("n_docs").as("metric"), col("value"))
      val nLangs = d.agg(countDistinct(col("lang")).cast("double").as("value"))
        .select(lit("n_langs").as("metric"), col("value"))
      val nSources = d.agg(countDistinct(col("source")).cast("double").as("value"))
        .select(lit("n_sources").as("metric"), col("value"))
      val avgChars = d.agg(Det.rN(Det.davg(col("n_chars")), 4).as("value"))
        .select(lit("avg_chars").as("metric"), col("value"))
      val vocab = d.select(explode(toks(col("text"))).as("tok"))
        .agg(countDistinct(col("tok")).cast("double").as("value"))
        .select(lit("vocab_size").as("metric"), col("value"))
      val dupGroups = d.groupBy(sha2(col("text"), 256)).count()
        .filter(col("count") > 1)
        .agg(count(lit(1)).cast("double").as("value"))
        .select(lit("exact_dup_groups").as("metric"), col("value"))
      nDocs.unionAll(nLangs).unionAll(nSources).unionAll(avgChars)
        .unionAll(vocab).unionAll(dupGroups)
        .orderBy(col("metric"))
    }
  )

  /** Bigram language-model fluency score per document: train a corpus
    * bigram MLE (P(w2|w1) = c(w1 w2) / c(w1 ·)) and score each doc by
    * the mean log-probability of its bigrams — the classic cheap
    * fluency/quality signal for training-data filtering (documents of
    * improbable word transitions score low).
    *
    * 100 TB design: both count tables are vocabulary-sized (bigram
    * types, not tokens), so they broadcast; scoring is a map-side
    * double join + one keyed aggregate. Determinism: counts are exact
    * ints, ln of an identical double ratio is IEEE-identical (same
    * reliance as tf-idf), the per-doc mean uses the order-independent
    * decimal sum, and the result is trunc-rounded to 6 dp. */
  val textBigramLm: Q = Q(
    "text_bigram_lm",
    Some(
      "WITH e AS (SELECT doc_id, unnest(list_filter(list_transform(" +
        "list_zip(string_split(text, ' '), string_split(text, ' ')[2:]), " +
        "x -> x[1] || ' ' || x[2]), v -> v IS NOT NULL)) AS bg FROM documents), " +
        "c2 AS (SELECT bg, count(*)::BIGINT AS c2 FROM e GROUP BY bg), " +
        "c1 AS (SELECT string_split(bg, ' ')[1] AS w1, count(*)::BIGINT AS c1 FROM e GROUP BY 1), " +
        "lp AS (SELECT e.doc_id, ln(c2.c2::DOUBLE / c1.c1) AS lp FROM e " +
        "JOIN c2 USING (bg) JOIN c1 ON string_split(e.bg, ' ')[1] = c1.w1) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        Det.oRS("(" + Det.oSum("lp") + ") / count(*)", 6) + " AS fluency " +
        "FROM lp GROUP BY doc_id ORDER BY doc_id"
    ),
    (spark, dir) => {
      val t = split(col("text"), " ")
      val bgCol = filter(
        zip_with(t, slice(t, lit(2), greatest(size(t) - 1, lit(0))), (x, y) => concat(x, lit(" "), y)),
        v => v.isNotNull
      )
      val e = Tables
        .documents(spark, dir)
        .select(col("doc_id"), explode(bgCol).as("bg"))
      val c2 = e.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      // c1 from c2, NOT from a second corpus explode: c1(w1) is by
      // definition the sum of c2 over bigrams starting with w1, and c2
      // is vocabulary-sized — this folds a full tokenize+explode pass
      // (the third corpus scan of this query) into a tiny aggregate
      // over bigram TYPES. Counts identical, so every ln(c2/c1) is.
      val c1 = c2
        .groupBy(split(col("bg"), " ").getItem(0).as("w1"))
        .agg(sum(col("c2")).as("c1"))
      e.join(broadcast(c2), Seq("bg"))
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .join(broadcast(c1), Seq("w1"))
        .withColumn("lp", log(col("c2").cast("double") / col("c1")))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_bigrams"),
          Det.rS(Det.dsum(col("lp")) / count(lit(1)), 6).as("fluency")
        )
        .orderBy(col("doc_id"))
    }
  )

  /** Document chunking with overlap — the step every training-data
    * pipeline runs before tokenization: windows of 32 tokens advancing
    * by 24 (8-token overlap), trailing chunk kept even when short.
    * Pure map-side explode (chunk starts come from a per-row
    * `sequence`, chunks from `slice`): no shuffle except the contract
    * sort; at 100 TB output scales with token volume, generated
    * distributed. */
  val textChunk: Q = Q(
    "text_chunk",
    Some(
      "WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "s AS (SELECT doc_id, t, unnest(range(0, greatest(len(t), 1), 24)) AS s0 FROM d) " +
        "SELECT doc_id, s0 // 24 AS chunk_id, " +
        "len(list_slice(t, s0 + 1, s0 + 32)) AS n_tokens, " +
        "array_to_string(list_slice(t, s0 + 1, s0 + 32), ' ') AS chunk " +
        "FROM s ORDER BY doc_id, chunk_id"
    ),
    (spark, dir) => {
      val t = split(col("text"), " ")
      Tables
        .documents(spark, dir)
        .select(
          col("doc_id"),
          t.as("t"),
          explode(sequence(lit(0), greatest(size(t) - 1, lit(0)), lit(24))).as("s0")
        )
        .select(
          col("doc_id"),
          (col("s0") / 24).cast("long").as("chunk_id"),
          size(slice(col("t"), col("s0") + 1, lit(32))).cast("long").as("n_tokens"),
          array_join(slice(col("t"), col("s0") + 1, lit(32)), " ").as("chunk")
        )
        .orderBy(col("doc_id"), col("chunk_id"))
    }
  )

  /** Vocabulary coverage curve — the tokenizer-training metric: tokens
    * by corpus frequency with cumulative coverage fraction ("the top N
    * tokens cover X% of the corpus"). One explode + count + two global
    * window passes over the (vocabulary-sized, tiny) count table. */
  val textVocab: Q = Q(
    "text_vocab",
    Some(
      "WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "c AS (SELECT tok, count(*) AS n FROM t GROUP BY 1), " +
        "r AS (SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rnk, " +
        "sum(n) OVER (ORDER BY n DESC, tok ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "sum(n) OVER () AS total FROM c) " +
        "SELECT rnk, tok, n, " + Det.oRN("cum::DOUBLE / total", 6) + " AS coverage " +
        "FROM r ORDER BY rnk"
    ),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val c = Tables
        .documents(spark, dir)
        .select(explode(toks(col("text"))).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("n"))
      val ord = Window.partitionBy(Det.onePart(col("tok"))).orderBy(col("n").desc, col("tok"))
      val cumW = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val totW = Window.partitionBy(Det.onePart(col("tok"))) // global
      c.select(
        row_number().over(ord).cast("long").as("rnk"),
        col("tok"),
        col("n"),
        Det.rN(sum(col("n")).over(cumW).cast("double") / sum(col("n")).over(totW), 6).as("coverage")
      ).orderBy(col("rnk"))
    }
  )

  /** The end-to-end curation pipeline in ONE plan — what this engine
    * exists for: quality gate (length + token floor) → exact-dedup
    * survivors (min doc_id per sha256) → overlapping 32/24 chunking →
    * per-language corpus statistics. Every stage is one of the
    * engine's verified operators composed; the whole pipeline is two
    * shuffles (dedup hash, final group) plus map-side chunking. */
  val pipelineCurate: Q = Q(
    "pipeline_curate",
    Some(
      "WITH keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)), " +
        "kept AS (SELECT d.doc_id, d.lang, string_split(d.text, ' ') AS t FROM documents d " +
        "JOIN keepers k ON d.doc_id = k.doc_id " +
        "WHERE d.n_chars >= 150 AND len(string_split(d.text, ' ')) >= 20), " +
        "ch AS (SELECT doc_id, lang, " +
        "len(list_slice(t, s0 + 1, s0 + 32)) AS n_toks " +
        "FROM (SELECT doc_id, lang, t, unnest(range(0, greatest(len(t), 1), 24)) AS s0 FROM kept)) " +
        "SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks, " +
        "cast(sum(n_toks) as bigint) AS total_tokens, " +
        Det.oRN("sum(n_toks)::DOUBLE / count(*)", 6) + " AS avg_chunk_tokens " +
        "FROM ch GROUP BY lang ORDER BY lang"
    ),
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val keepers = docs
        .groupBy(sha2(col("text"), 256))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val t = split(col("text"), " ")
      val kept = docs
        .join(keepers, Seq("doc_id"), "left_semi")
        .filter(col("n_chars") >= 150 && size(t) >= 20)
        .select(col("doc_id"), col("lang"), t.as("t"))
      kept
        .select(
          col("doc_id"),
          col("lang"),
          col("t"),
          explode(sequence(lit(0), greatest(size(col("t")) - 1, lit(0)), lit(24))).as("s0")
        )
        .select(
          col("doc_id"),
          col("lang"),
          size(slice(col("t"), col("s0") + 1, lit(32))).as("n_toks")
        )
        .groupBy(col("lang"))
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("n_toks")).cast("long").as("total_tokens"),
          Det.rN(sum(col("n_toks")).cast("double") / count(lit(1)), 6).as("avg_chunk_tokens")
        )
        .orderBy(col("lang"))
    }
  )

  /** Benchmark-contamination detection: for every corpus document, the
    * benchmark ("eval set") documents it shares 5-gram shingles with,
    * reported when the overlap covers ≥ 50% of the benchmark doc's
    * shingles — the standard decontamination pass a training-data
    * pipeline runs before training (n-gram collision against held-out
    * eval sets). The benchmark set here is doc_id < 20 standing in for
    * an external eval suite.
    *
    * 100 TB design: the benchmark side is always tiny (eval suites are
    * thousands of docs) — its exploded shingle table BROADCASTS, so the
    * corpus side is one linear scan + map-side explode + hash join with
    * no shuffle of the corpus; the only exchange is the final bounded
    * (corpus_doc × bench_doc) aggregate. Determinism: shingle sets are
    * distinct per doc, so count(*) over the join IS |intersection|
    * (exact ints); the coverage fraction is one IEEE division of
    * identical ints, trunc-rounded; the ≥ 0.5 gate compares that exact
    * ratio, never a float artifact. */
  /** Per-doc DISTINCT rolling-hash 5-gram shingle sets (doc_id, s) —
    * the shared substrate of the contamination screen and the curation
    * funnel's decontamination gate. Each token is xxhash64'd once and
    * a shingle key is a position-sensitive bitwise mix (per-offset
    * bit-rotation, xor) of 5 consecutive token hashes, so shingles
    * never materialize as strings (8-byte longs through every explode
    * and join; measured 7.2 s → ~1 s at sf0.1 vs string shingles).
    * Formulated as zip_with over 5 SHIFTED SLICES of the token-hash
    * array (not element_at inside a positional lambda): projection
    * collapse inlines column aliases into every reference, so a
    * per-position element_at formulation recomputes the whole hash
    * array O(positions) times per row — measured 32 s; this shape
    * references it a constant 6 times per row. */
  private[graft] def contamShinglesBuild(docs: DataFrame): DataFrame = {
    def rot(c: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column =
      if (bits == 0) c else shiftleft(c, bits).bitwiseOR(shiftrightunsigned(c, 64 - bits))
    val t = split(col("text"), " ")
    val th = transform(t, tok => xxhash64(tok))
    val m = size(t) - 4 // shingle count (size >= 5 is filtered below)
    val mixed = (1 to 4).foldLeft(slice(th, lit(1), m)) { (acc, o) =>
      zip_with(acc, slice(th, lit(o + 1), m), (a, b) => a.bitwiseXOR(rot(b, 13 * o)))
    }
    // `source` rides the view (one short column) so the novelty
    // rollup reads shingles WITH provenance instead of paying a
    // corpus-sized join back to documents at query time
    docs.filter(size(t) >= 5).select(col("doc_id"), col("source"), array_distinct(mixed).as("s"))
  }

  /** Write-once shingle-set table — [[graft.ViewStore]] discipline: a
    * doc's distinct 5-gram hash set is a pure per-document function
    * (the same ingest-product argument as every signature table), and
    * it was derived TWICE per run before r10 (contamination screen +
    * funnel). Consumers split it into bench/corpus sides with pushed
    * doc_id predicates. No per-session path memo (r11 — see
    * [[graft.operators.Dedup.simhashSigTablePath]]'s rationale). */
  private[graft] def contamShingleTablePath(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    // buildVersion = 2: the source column was added to the build
    // in the same round the family was born — the rule is bump on
    // any derivation change, because the input fingerprint cannot
    // see that a (doc_id, s)-only store from an earlier build of
    // this same round would otherwise satisfy the exists-check
    graft.ViewStore.materialize(spark, "graft_contam_shingles", dir, buildVersion = 2)(
      contamShinglesBuild(Tables.documents(spark, dir)))

  private def contamShingles(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(contamShingleTablePath(spark, dir))

  /** Build-once audit seed (ADVICE r15): the smallest doc_id%8 residue
    * among CONTAMINATED corpus docs (doc_id >= 20) — one full screen
    * paid at view-build time under the ViewStore write-once discipline,
    * so the per-round parity audit can pick a fixed slice that provably
    * contains a known positive. Nonempty streamed output becomes an
    * INVARIANT whenever the corpus has any contamination at all;
    * equal-empty degrades to the fallback only when the seed is null
    * (a genuinely clean corpus). One row; `res` null = no positives. */
  private[graft] def contamSeedPath(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.ViewStore.materialize(spark, "graft_contam_seed", dir) {
      contamScreenAgainst(
        contamShingles(spark, dir).filter(col("doc_id") >= 20),
        contamBenchFrame(spark, dir))
        .agg(min(pmod(col("doc_id"), lit(8))).as("res"))
    }

  /** The benchmark ("eval set") side of the contamination screen,
    * exploded from the persisted shingle-set view: (bench_id, nb, g) —
    * always tiny (eval suites are thousands of docs), so it broadcasts
    * inside [[contamScreenAgainst]]. Shared by the batch registry row
    * and the streaming ingest screen
    * ([[graft.streaming.StreamDemos.contamScreenedIngest]]) so both
    * screen against literally the same frame. */
  private[graft] def contamBenchFrame(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    contamShingles(spark, dir)
      .filter(col("doc_id") < 20)
      .select(col("doc_id").as("bench_id"), size(col("s")).as("nb"), explode(col("s")).as("g"))

  /** The contamination verdict for ANY (doc_id, s) shingle-set frame
    * against a broadcast bench side — a pure per-document function of
    * the incoming doc given the frozen bench set, which is what makes
    * the screen micro-batch-able: the streaming ingest runs this same
    * plan per batch and a replayed doc recomputes the identical
    * verdict rows (idempotent merge by (doc_id, bench_id)). UNSORTED;
    * the registry row adds its contract ORDER BY. */
  private[graft] def contamScreenAgainst(corpShingles: DataFrame, bench: DataFrame): DataFrame =
    corpShingles
      .select(col("doc_id"), explode(col("s")).as("g"))
      .join(broadcast(bench), Seq("g"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"), max(col("nb")).as("nb"))
      .filter(col("n_shared").cast("double") / col("nb") >= 0.5)
      .select(
        col("doc_id"),
        col("bench_id"),
        col("n_shared"),
        Det.rN(col("n_shared").cast("double") / col("nb"), 6).as("coverage")
      )

  val textContamination: Q = Q(
    "text_contamination",
    Some(
      "WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 3), " +
        "i -> array_to_string(t[i:i+4], ' '))) AS s FROM d WHERE len(t) >= 5), " +
        "bench AS (SELECT doc_id AS bench_id, len(s) AS nb, unnest(s) AS g FROM sh WHERE doc_id < 20), " +
        "corp AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= 20) " +
        "SELECT c.doc_id, b.bench_id, count(*)::BIGINT AS n_shared, " +
        Det.oRN("count(*)::DOUBLE / max(b.nb)", 6) + " AS coverage " +
        "FROM corp c JOIN bench b ON c.g = b.g " +
        "GROUP BY c.doc_id, b.bench_id " +
        "HAVING count(*)::DOUBLE / max(b.nb) >= 0.5 " +
        "ORDER BY doc_id, bench_id"
    ),
    (spark, dir) => {
      // Served from the write-once shingle-set view (rolling-hash
      // longs, never strings — derivation + measurements on
      // contamShinglesBuild). The DuckDB oracle keeps exact string
      // shingles: overlap counts agree unless two DIFFERENT 5-grams of
      // one doc pair collide in 64 bits (~2^-45 per pair here; the
      // sf0.01 hash gate re-proves equality every round).
      contamScreenAgainst(
        contamShingles(spark, dir).filter(col("doc_id") >= 20),
        contamBenchFrame(spark, dir)
      ).orderBy(col("doc_id"), col("bench_id"))
    }
  )

  /** One-pass heavy hitters through the custom count-min-sketch
    * aggregate ([[org.apache.spark.sql.graftx.CountMinTopK]]): the
    * top-10 most frequent tokens with their estimated counts. The
    * sketch is a fixed-size mergeable buffer (d×w matrix + bounded
    * candidates), so the aggregation never shuffles the token key
    * space — at 100 TB the exchange carries ~32 KB partials instead of
    * the full vocabulary. On this corpus's 31-token vocabulary the
    * estimates are collision-free (SketchSpec pins estimate == exact
    * and the ≥-bound), so the exact-count oracle applies; at real
    * vocabulary scale the same query is the approximate profile.
    * SketchSpec also asserts partition-count invariance (mergeability). */
  val textHeavyHitters: Q = Q(
    "text_heavy_hitters",
    Some(
      "WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "c AS (SELECT tok, count(*)::BIGINT AS n FROM t GROUP BY tok) " +
        "SELECT cast(row_number() OVER (ORDER BY n DESC, tok) as bigint) AS rank, " +
        "tok AS token, n AS est_count FROM c ORDER BY n DESC, tok LIMIT 10"
    ),
    (spark, dir) =>
      Tables
        .documents(spark, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .agg(org.apache.spark.sql.graftx.CountMinTopK.topk(col("tok"), 10).as("hh"))
        .select(posexplode(col("hh")).as(Seq("pos", "s")))
        .select(
          (col("pos") + 1).cast("long").as("rank"),
          col("s.token").as("token"),
          col("s.est").as("est_count")
        )
        .orderBy(col("rank"))
  )

  /** The curation FUNNEL in one plan: per language, how many documents
    * survive each successive gate — raw → quality (length + token
    * floor) → exact-dedup survivor → decontaminated (no ≥50% 5-gram
    * coverage of an eval-set doc). This is the per-stage accounting a
    * data-curation run publishes next to its output. Every gate is a
    * FLAG, not a filter, so one aggregate over one pass of the corpus
    * produces all four counts; the dedup and contamination inputs are
    * the engine's existing shapes (hash-groupBy keepers; broadcast
    * eval-set shingle join). */
  val pipelineFunnel: Q = Q(
    "pipeline_funnel",
    Some(
      "WITH keepers AS (SELECT min(doc_id) AS k FROM documents GROUP BY sha256(text)), " +
        "dd AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 3), " +
        "i -> array_to_string(t[i:i+4], ' '))) AS s FROM dd WHERE len(t) >= 5), " +
        "bench AS (SELECT doc_id AS bench_id, len(s) AS nb, unnest(s) AS g FROM sh WHERE doc_id < 20), " +
        "corp AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= 20), " +
        "cont AS (SELECT DISTINCT c.doc_id FROM corp c JOIN bench b ON c.g = b.g " +
        "GROUP BY c.doc_id, b.bench_id HAVING count(*)::DOUBLE / max(b.nb) >= 0.5), " +
        "f AS (SELECT d.lang, " +
        "(d.n_chars >= 150 AND len(string_split(d.text, ' ')) >= 20) AS pass_q, " +
        "(d.doc_id IN (SELECT k FROM keepers)) AS pass_d, " +
        "(d.doc_id NOT IN (SELECT doc_id FROM cont)) AS pass_c " +
        "FROM documents d) " +
        "SELECT lang, count(*) AS n_raw, " +
        "cast(sum(CASE WHEN pass_q THEN 1 ELSE 0 END) as bigint) AS n_quality, " +
        "cast(sum(CASE WHEN pass_q AND pass_d THEN 1 ELSE 0 END) as bigint) AS n_dedup, " +
        "cast(sum(CASE WHEN pass_q AND pass_d AND pass_c THEN 1 ELSE 0 END) as bigint) AS n_clean " +
        "FROM f GROUP BY lang ORDER BY lang"
    ),
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val keepers = docs
        .groupBy(sha2(col("text"), 256))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), lit(true).as("pass_d"))
      // contaminated corpus docs: the hashed-shingle view shared with
      // text_contamination, reduced to a distinct doc_id set
      val sh = contamShingles(spark, dir)
      val bench = sh
        .filter(col("doc_id") < 20)
        .select(col("doc_id").as("bench_id"), size(col("s")).as("nb"), explode(col("s")).as("g"))
      val cont = sh
        .filter(col("doc_id") >= 20)
        .select(col("doc_id"), explode(col("s")).as("g"))
        .join(broadcast(bench), Seq("g"))
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("n_shared"), max(col("nb")).as("nb"))
        .filter(col("n_shared").cast("double") / col("nb") >= 0.5)
        .select(col("doc_id"))
        .distinct()
        .withColumn("contaminated", lit(true))
      docs
        .select(
          col("doc_id"),
          col("lang"),
          (col("n_chars") >= 150 && size(split(col("text"), " ")) >= 20).as("pass_q")
        )
        .join(keepers, Seq("doc_id"), "left")
        .join(broadcast(cont), Seq("doc_id"), "left")
        .select(
          col("lang"),
          col("pass_q"),
          coalesce(col("pass_d"), lit(false)).as("pass_d"),
          coalesce(col("contaminated"), lit(false)).as("cont")
        )
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_raw"),
          sum(when(col("pass_q"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("pass_q") && col("pass_d"), 1L).otherwise(0L)).as("n_dedup"),
          sum(when(col("pass_q") && col("pass_d") && !col("cont"), 1L).otherwise(0L)).as("n_clean")
        )
        .orderBy(col("lang"))
    }
  )

  /** Dataset manifest — the "dataset card" numbers a published corpus
    * ships with, per language plus a TOTAL rollup row in one pass:
    * doc count, exact distinct-content count, total characters, and an
    * order-independent corpus checksum (the SUM of a 40-bit prefix of
    * each doc's sha256 — commutative, so any partitioning/merge order
    * yields the same fingerprint, and two corpora can be compared for
    * drift without row alignment; 40 bits × 10⁶ docs stays far from
    * int64 overflow). Everything is an exact integer, so the manifest
    * is bit-stable across engines and cluster layouts.
    */
  val pipelineManifest: Q = Q(
    "pipeline_manifest",
    Some(
      "SELECT coalesce(lang, 'TOTAL') AS lang, count(*) AS n_docs, " +
        "cast(count(DISTINCT sha256(text)) as bigint) AS n_distinct, " +
        "cast(sum(n_chars) as bigint) AS total_chars, " +
        "cast(sum(('0x' || substr(sha256(text), 1, 10))::BIGINT) as bigint) AS checksum " +
        "FROM documents GROUP BY ROLLUP (lang) ORDER BY lang"
    ),
    (spark, dir) =>
      Tables
        .documents(spark, dir)
        .select(
          col("lang"),
          col("n_chars"),
          sha2(col("text"), 256).as("sha")
        )
        .rollup(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("sha")).as("n_distinct"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          sum(conv(substring(col("sha"), 1, 10), 16, 10).cast("long")).cast("long").as("checksum")
        )
        .withColumn("lang", coalesce(col("lang"), lit("TOTAL")))
        .select(col("lang"), col("n_docs"), col("n_distinct"), col("total_chars"), col("checksum"))
        .orderBy(col("lang"))
  )

  /** Per-language Shannon entropy of the token distribution — the
    * vocabulary-diversity signal of a corpus slice (low entropy =
    * repetitive/templated text, a standard training-data quality
    * dimension next to [[textQuality]]'s per-doc ratios). Computed as
    * H = ln(N) − (Σ c·ln c)/N from exact token counts: the counts are
    * integers, each c·ln(c) is the same IEEE double in both engines,
    * and the sum goes through the decimal-exact path (ln precedent:
    * [[textBigramLm]]). Normalized entropy divides by the maximum
    * ln(vocab). One explode + two aggregates — embarrassingly parallel
    * at any scale, with the token-count aggregate map-side combinable.
    */
  val textEntropy: Q = Q(
    "text_entropy",
    Some(
      "WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "c AS (SELECT lang, tok, count(*)::DOUBLE AS c FROM t GROUP BY 1, 2), " +
        "m AS (SELECT lang, cast(sum(c) as bigint) AS n_tokens, count(*) AS vocab, " +
        s"${Det.oSum("c * ln(c)")} AS sclnc FROM c GROUP BY 1) " +
        "SELECT lang, n_tokens, vocab, " +
        Det.oRN("ln(n_tokens) - sclnc / n_tokens", 6) + " AS entropy, " +
        Det.oRN("(ln(n_tokens) - sclnc / n_tokens) / ln(vocab)", 6) + " AS norm_entropy " +
        "FROM m ORDER BY lang"
    ),
    (spark, dir) => {
      val m = Tables
        .documents(spark, dir)
        .select(col("lang"), explode(toks(col("text"))).as("tok"))
        .groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).cast("double").as("c"))
        .groupBy(col("lang"))
        .agg(
          sum(col("c")).cast("long").as("n_tokens"),
          count(lit(1)).as("vocab"),
          Det.dsum(col("c") * log(col("c"))).as("sclnc")
        )
      val h = log(col("n_tokens")) - col("sclnc") / col("n_tokens")
      m.select(
        col("lang"),
        col("n_tokens"),
        col("vocab"),
        Det.rN(h, 6).as("entropy"),
        Det.rN(h / log(col("vocab")), 6).as("norm_entropy")
      ).orderBy(col("lang"))
    }
  )

  /** Curriculum phases: order the corpus by a deterministic difficulty
    * proxy (mean token length — longer words ≈ harder text) and cut it
    * into 10 equal phases with ntile, reporting each phase's size and
    * profile. This is the curriculum-learning data prep step: training
    * consumes phases in order, so the CUT must be reproducible —
    * ntile's order tie-breaks on doc_id, making phase membership
    * hash-stable across engines and runs. One window pass over a
    * per-doc projection + a 10-row aggregate. No global-order window:
    * phase membership is [[Grids.globalRank]]'s two-level cumulative
    * (equi-depth range buckets + partitioned windows + a ≤256-row
    * offset table)
    * fed through [[Grids.ntileFromRank]] arithmetic against the exact
    * broadcast N — bit-identical to the oracle's ntile at any scale.
    */
  val pipelineCurriculum: Q = Q(
    "pipeline_curriculum",
    Some(
      "WITH d AS (SELECT doc_id, n_chars, len(string_split(text, ' ')) AS n_tokens, " +
        "n_chars::DOUBLE / len(string_split(text, ' ')) AS difficulty FROM documents), " +
        "p AS (SELECT *, ntile(10) OVER (ORDER BY difficulty, doc_id) AS phase FROM d) " +
        "SELECT phase, count(*) AS n_docs, " +
        Det.oRN(Det.oSum("difficulty") + " / count(*)", 6) + " AS avg_difficulty, " +
        Det.oRN(Det.oSum("n_chars") + " / count(*)", 2) + " AS avg_chars, " +
        Det.oRN(Det.oSum("n_tokens") + " / count(*)", 2) + " AS avg_tokens " +
        "FROM p GROUP BY phase ORDER BY phase"
    ),
    (spark, dir) => {
      val d = Tables
        .documents(spark, dir)
        .select(
          col("doc_id"),
          col("n_chars"),
          size(toks(col("text"))).as("n_tokens"),
          (col("n_chars").cast("double") / size(toks(col("text")))).as("difficulty")
        )
      val nTot = d.agg(count(lit(1)).as("_n"))
      // difficulty = chars/token is a ratio with a long right tail (a few
      // pathological docs dominate the range), so the rank uses equi-depth
      // sketch boundaries: occupancy stays ≈N/B even though the value range
      // is stretched by outliers. Output is exact either way.
      Grids
        .globalRank(d, "difficulty", desc = false, Seq("doc_id"), "rnk", equiDepth = true)
        .crossJoin(broadcast(nTot))
        .withColumn("phase", Grids.ntileFromRank(col("rnk"), col("_n"), 10))
        .groupBy(col("phase"))
        .agg(
          count(lit(1)).as("n_docs"),
          Det.rN(Det.dsum(col("difficulty")) / count(lit(1)), 6).as("avg_difficulty"),
          Det.rN(Det.dsum(col("n_chars")) / count(lit(1)), 2).as("avg_chars"),
          Det.rN(Det.dsum(col("n_tokens")) / count(lit(1)), 2).as("avg_tokens")
        )
        .orderBy(col("phase"))
    }
  )

  /** BM25 retrieval (Robertson/Spärck Jones, k1 = 1.2, b = 0.75): score
    * every document against a fixed 4-token query, return the top 20.
    * The lexical-retrieval baseline next to [[graft.operators.Similarity]]'s
    * dense ANN family — a curation pipeline uses exactly this to mine
    * topic-targeted subsets from a web corpus.
    *
    * Determinism: tf, df, dl, N are exact ints; avgdl is ONE division
    * of exact longs; each per-(doc, term) score is then a fixed chain
    * of IEEE double ops on identical inputs (bit-identical across
    * engines — the operation ORDER is written identically in both
    * formulations); the per-doc sum over ≤ 4 terms goes through the
    * decimal-cast order-independent sum, trunc-rounded at 6 dp.
    *
    * 100 TB: tokens are pruned to the query's terms BEFORE the tf
    * aggregate (a 4-row broadcast semi-join on the exploded stream),
    * so the shuffled volume is per-doc×per-query-term, not the corpus
    * vocabulary; df and (N, avgdl) are tiny aggregates broadcast back;
    * top-20 is TakeOrderedAndProject — no global sort materialized. */
  val textBm25Topk: Q = Q(
    "text_bm25_topk",
    Some(
      "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "dl AS (SELECT doc_id, len(toks) AS dl FROM t), " +
        "stats AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl), " +
        "q AS (SELECT unnest(['spark','join','fast','window']) AS tok), " +
        "tok AS (SELECT doc_id, unnest(toks) AS tok FROM t), " +
        "tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok JOIN q USING (tok) GROUP BY doc_id, tok), " +
        "df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok JOIN q USING (tok) GROUP BY tok), " +
        "sc AS (SELECT tf.doc_id, " +
        "ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0) * " +
        "(tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS term_score " +
        "FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats) " +
        "SELECT doc_id, " + Det.oRN(Det.oSum("term_score"), 6) + " AS bm25 " +
        "FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20"
    ),
    (spark, dir) =>
      // Served from the SAME persisted inverted index as the
      // text_bm25_persisted twin (r10 convergence): the base row used
      // to re-tokenize the corpus per run while its own index sat on
      // disk. TextEvalSpec pins index-served == from-scratch
      // (bm25FrameScratch) bit-for-bit, so persistence stays
      // result-invisible.
      bm25Frame(spark, dir, Seq("spark", "join", "fast", "window"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20)
  )

  /** (postings path, stats path): the write-once BM25 index —
    * postings = (tok, doc_id, tf, dl) over the WHOLE vocabulary, stats
    * = the 1-row (n, avgdl). [[graft.ViewStore]] discipline
    * (input-fingerprinted path, cross-JVM-race-safe). At 100 TB the
    * postings table is additionally partitioned/bucketed by token so a
    * query probe prunes to its terms' buckets; here it is a flat
    * parquet the term filter prunes by predicate. */
  /** Postings projection (tok, doc_id, dl, tf) over ANY docs frame
    * with (doc_id, text) — a pure PER-DOCUMENT function (no corpus
    * state), which is what makes the index micro-batch-maintainable:
    * the streaming ingest ([[graft.streaming.StreamDemos
    * .streamedBm25Index]]) runs this same stateless projection per
    * batch and merges by (tok, doc_id), and a replayed document
    * recomputes the identical rows (idempotent upsert). Factored out
    * of the batch build so stream and batch run literally the same
    * plan — the [[graft.operators.Dedup.signaturesOf]] pattern. */
  private[graft] def bm25PostingsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("tok"))
      .groupBy(col("tok"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))

  /** Per-doc (doc_id, dl) — the stats-side projection. From the
    * DOCUMENTS frame, not a distinct over the postings: a zero-token
    * document has no postings rows but still counts in n/avgdl
    * (matching bm25Frame exactly). */
  private[graft] def bm25DocLenOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), size(toks(col("text"))).as("dl"))

  private[graft] def bm25IndexPath(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val postings = graft.ViewStore.materialize(spark, "graft_bm25_index/postings", dir)(
      bm25PostingsOf(Tables.documents(spark, dir))
    )
    val stats = graft.ViewStore.materialize(spark, "graft_bm25_index/stats", dir)(
      bm25DocLenOf(Tables.documents(spark, dir))
        .agg(count(lit(1)).as("n"), (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    )
    (postings, stats)
  }

  /** The fixed serving batch for [[textBm25Persisted]] — three
    * topic-targeted term-sets over the corpus vocabulary; "lexical" is
    * exactly [[textBm25Topk]]'s query, which is what lets TextEvalSpec
    * pin per-query equality between the batched and single paths.
    * (Declared before the Q that bakes it into its oracle string —
    * object vals initialize in declaration order.) */
  private[graft] val Bm25QueryBatch: Seq[(String, Seq[String])] = Seq(
    "lexical"   -> Seq("spark", "join", "fast", "window"),
    "storage"   -> Seq("scan", "column", "table", "sort"),
    "streaming" -> Seq("stream", "batch", "merge", "key")
  )

  /** MULTI-QUERY batch BM25 over the persisted inverted index — the
    * realistic SERVING shape the index exists for, and what
    * re-differentiates this row from [[textBm25Topk]] after the r10
    * convergence left the pair byte-identical (the registry paid two
    * bench/verify slots for one plan): a retrieval deployment scores
    * query BATCHES, not one query per corpus pass. Three fixed
    * term-sets ride a broadcast (query_id, tok) mapping joined onto
    * ONE probe of the postings view (the scan is pruned to the UNION
    * of all queries' terms); df is per-term and query-independent, so
    * each shared term's (doc, term) score is computed once and fans
    * out to its queries through the broadcast join; top-10 per query
    * comes from the [[org.apache.spark.sql.graftx.TopKPerGroup]]
    * operator (per-partition heaps + one bounded exchange — never a
    * global sort).
    *
    * Determinism: identical per-(doc, term) IEEE chain as
    * [[bm25Frame]]; the per-(query, doc) sum is decimal-cast
    * order-independent and trunc-rounded BEFORE ranking; rank ties
    * break on doc_id — a total order in both engines.
    *
    * 100 TB: the cost model is the point — one index probe of
    * |union terms| postings serves Q queries; the per-query marginal
    * cost is a broadcast-map fanout row, not a corpus scan. With the
    * postings table bucketed by tok (the scale layout the
    * [[bm25IndexPath]] scaladoc describes), the probe prunes to the
    * union's buckets. TextEvalSpec pins the "lexical" slice bit-equal
    * to [[textBm25Topk]] (persistence + batching must be
    * result-invisible per query); PlanShapeSpec pins the two rows'
    * plans DISTINCT. */
  val textBm25Persisted: Q = Q(
    "text_bm25_persisted",
    Some {
      val qvals = Bm25QueryBatch
        .flatMap { case (q, ts) => ts.map(t => s"('$q','$t')") }
        .mkString(", ")
      val allToks = Bm25QueryBatch.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
      "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "dl AS (SELECT doc_id, len(toks) AS dl FROM t), " +
        "stats AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl), " +
        s"q AS (SELECT * FROM (VALUES $qvals) AS v(query_id, tok)), " +
        "tok AS (SELECT doc_id, unnest(toks) AS tok FROM t), " +
        s"tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok WHERE tok IN ($allToks) GROUP BY doc_id, tok), " +
        s"df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok WHERE tok IN ($allToks) GROUP BY tok), " +
        "sc AS (SELECT q.query_id, tf.doc_id, " +
        "ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0) * " +
        "(tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS term_score " +
        "FROM tf JOIN q USING (tok) JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats), " +
        "s AS (SELECT query_id, doc_id, " + Det.oRN(Det.oSum("term_score"), 6) + " AS bm25 " +
        "FROM sc GROUP BY query_id, doc_id) " +
        "SELECT query_id, cast(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY bm25 DESC, doc_id) as bigint) AS rank, doc_id, bm25 " +
        "FROM s QUALIFY rank <= 10 ORDER BY query_id, rank"
    },
    (spark, dir) => {
      val scored = bm25MultiFrame(spark, dir, Bm25QueryBatch)
      org.apache.spark.sql.graftx
        .TopKPerGroup(scored, Seq("query_id"), Seq("bm25" -> true, "doc_id" -> false), 10, rnName = "rank")
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("doc_id"), col("bm25"))
        .orderBy(col("query_id"), col("rank"))
    }
  )

  /** Per-(query, doc) BM25 scores for a BATCH of queries in one pass
    * over the persisted postings view — [[bm25Frame]] generalized: the
    * probe filter is the union of all queries' terms, and a broadcast
    * (query_id, tok) mapping fans each (doc, term) score out to the
    * queries that asked for it. Per-(doc, term) arithmetic is the
    * identical IEEE chain, so any single query's slice is bit-equal to
    * its [[bm25Frame]] run (TextEvalSpec pins it). */
  private[graft] def bm25MultiFrame(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      queries: Seq[(String, Seq[String])]): DataFrame = {
    import spark.implicits._
    val (postingsPath, statsPath) = bm25IndexPath(spark, dir)
    val allToks = queries.flatMap(_._2).distinct
    val probed = spark.read.parquet(postingsPath).filter(col("tok").isin(allToks: _*))
    val stats = spark.read.parquet(statsPath)
    // postings are unique per (tok, doc_id) by construction (the index
    // build aggregates on exactly that key), so the document frequency
    // is a plain row count — no per-group doc-id set like the
    // countDistinct spelling held (O(postings-per-term) memory at scale)
    val df_ = probed.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val qmap = queries
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "tok")
    val termScore =
      log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
        (col("tf") * 2.2) / (col("tf") + lit(1.2) * (lit(1.0) - 0.75 + lit(0.75) * col("dl") / col("avgdl")))
    probed
      .join(broadcast(df_), Seq("tok"))
      .join(broadcast(qmap), Seq("tok"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), termScore.as("term_score"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(Det.rN(Det.dsum(col("term_score")), 6).as("bm25"))
  }

  /** Per-doc BM25 score frame (doc_id, bm25) for an arbitrary query,
    * served from the PERSISTED inverted index ([[bm25IndexPath]]): a
    * query touches only its terms' postings (tf and dl ride the
    * postings row, df is a per-term count of the probed postings,
    * corpus stats are a 1-row broadcast) — the documents table is
    * never re-read at query time. Shared by [[textBm25Topk]], its
    * persistence twin and the hybrid RRF fusion in
    * [[graft.operators.Similarity]]. Bit-equal to the from-scratch
    * derivation ([[bm25FrameScratch]], pinned by TextEvalSpec): tf,
    * df, dl, n are exact ints whether aggregated at ingest or at query
    * time, and the per-(doc, term) score chain is written in the
    * identical IEEE op order. */
  private[operators] def bm25Frame(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      queryToks: Seq[String]): DataFrame = {
    val (postingsPath, statsPath) = bm25IndexPath(spark, dir)
    val probed = spark.read.parquet(postingsPath).filter(col("tok").isin(queryToks: _*))
    val stats = spark.read.parquet(statsPath)
    // same (tok, doc_id)-uniqueness argument as bm25MultiFrame: df is a
    // plain row count over the probed postings
    val df_ = probed.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val termScore =
      log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
        (col("tf") * 2.2) / (col("tf") + lit(1.2) * (lit(1.0) - 0.75 + lit(0.75) * col("dl") / col("avgdl")))
    probed
      .join(broadcast(df_), Seq("tok"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), termScore.as("term_score"))
      .groupBy(col("doc_id"))
      .agg(Det.rN(Det.dsum(col("term_score")), 6).as("bm25"))
  }

  /** The from-scratch BM25 derivation (tokenize the corpus at query
    * time) — kept as the REFERENCE implementation the persisted index
    * is verified against (TextEvalSpec pins bit-equality), not used by
    * any registry row since the r10 convergence onto [[bm25Frame]]. */
  private[graft] def bm25FrameScratch(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      queryToks: Seq[String]): DataFrame = {
    val d = Tables
      .documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("toks"))
    val dl = d.select(col("doc_id"), size(col("toks")).as("dl"))
    val stats = dl.agg(
      count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")
    )
    val tok = d
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(queryToks: _*)) // codegen'd IN, no join needed for 4 terms
    val tf = tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df_ = tok.groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))
    // identical op order to the oracle: idf * (tf*2.2) / (tf + 1.2*(1 - 0.75 + 0.75*dl/avgdl))
    val termScore =
      log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
        (col("tf") * 2.2) / (col("tf") + lit(1.2) * (lit(1.0) - 0.75 + lit(0.75) * col("dl") / col("avgdl")))
    tf.join(broadcast(df_), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), termScore.as("term_score"))
      .groupBy(col("doc_id"))
      .agg(Det.rN(Det.dsum(col("term_score")), 6).as("bm25"))
  }

  /** Held-out language-model evaluation — the eval discipline
    * [[textBigramLm]] lacks: an add-1-smoothed bigram LM is TRAINED on
    * the ~90 % md5-bucket split (the same split contract as
    * `sample_train_test_split` / `ml_naive_bayes`) and scored on the
    * held-out 10 % as per-doc cross-entropy
    * −(Σ ln p̂(w₂|w₁))/n — log-perplexity, the number a curation
    * pipeline tracks to compare corpus slices against a reference
    * model. Unseen history (c₁ = 0) degrades to the uniform 1/V via
    * the same smoothing formula, no special case.
    *
    * Determinism: counts and V are exact ints; each ln() input is ONE
    * division of identical doubles; the per-doc sum is decimal-exact;
    * ce is one division rounded at 6 dp (ln precedent:
    * [[textTfidfTop]]/[[textBigramLm]]).
    *
    * 100 TB: the model tables (bigram counts, history counts, scalar
    * V) are vocab²-bounded and broadcast; the test stream is scored in
    * one pass — train and score are each a single grouped aggregate. */
  val textPerplexity: Q = Q(
    "text_perplexity",
    Some {
      val h = Sampling.oHkey("doc_id")
      val bgs = "list_filter(list_transform(" +
        "list_zip(string_split(text, ' '), string_split(text, ' ')[2:]), " +
        "x -> x[1] || ' ' || x[2]), v -> v IS NOT NULL)"
      "WITH sp AS (SELECT doc_id, lang, text, " + h + " % 10 = 0 AS is_test FROM documents), " +
        "tre AS (SELECT unnest(" + bgs + ") AS bg FROM sp WHERE NOT is_test), " +
        "c2 AS (SELECT bg, count(*)::BIGINT AS c2 FROM tre GROUP BY bg), " +
        "c1 AS (SELECT string_split(bg, ' ')[1] AS w1, count(*)::BIGINT AS c1 FROM tre GROUP BY 1), " +
        "voc AS (SELECT count(DISTINCT tok)::BIGINT AS v FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS tok FROM sp WHERE NOT is_test)), " +
        "tee AS (SELECT doc_id, lang, unnest(" + bgs + ") AS bg FROM sp WHERE is_test), " +
        "lp AS (SELECT tee.doc_id, tee.lang, " +
        "ln((coalesce(c2.c2, 0) + 1)::DOUBLE / (coalesce(c1.c1, 0) + voc.v)) AS lp " +
        "FROM tee LEFT JOIN c2 USING (bg) " +
        "LEFT JOIN c1 ON string_split(tee.bg, ' ')[1] = c1.w1 CROSS JOIN voc) " +
        "SELECT doc_id, lang, count(*) AS n_bigrams, " +
        Det.oRN("-(" + Det.oSum("lp") + ") / count(*)", 6) + " AS ce " +
        "FROM lp GROUP BY doc_id, lang ORDER BY doc_id"
    },
    (spark, dir) => {
      val t = split(col("text"), " ")
      val bgCol = filter(
        zip_with(t, slice(t, lit(2), greatest(size(t) - 1, lit(0))), (x, y) => concat(x, lit(" "), y)),
        v => v.isNotNull
      )
      val docs = Tables.documents(spark, dir)
      val isTest = Sampling.hkey(col("doc_id")) % 10 === 0
      val tre = docs.filter(!isTest).select(explode(bgCol).as("bg"))
      val c2 = tre.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      // c1 derives from c2 — the same move as text_bigram_lm: the
      // count of training bigrams whose history is w1 is the exact
      // integer sum of c2 over bigram TYPES with that prefix, so the
      // second bigram explode over the training corpus disappears (a
      // vocab²-bounded aggregate replaces a corpus pass).
      val c1 = c2
        .select(split(col("bg"), " ").getItem(0).as("w1"), col("c2"))
        .groupBy(col("w1"))
        .agg(sum(col("c2")).as("c1"))
      val voc = docs
        .filter(!isTest)
        .select(explode(t).as("tok"))
        .agg(countDistinct(col("tok")).as("v"))
      docs
        .filter(isTest)
        .select(col("doc_id"), col("lang"), explode(bgCol).as("bg"))
        .join(broadcast(c2), Seq("bg"), "left")
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .join(broadcast(c1), Seq("w1"), "left")
        .crossJoin(broadcast(voc))
        .withColumn(
          "lp",
          log((coalesce(col("c2"), lit(0L)) + 1).cast("double") / (coalesce(col("c1"), lit(0L)) + col("v")))
        )
        .groupBy(col("doc_id"), col("lang"))
        .agg(
          count(lit(1)).as("n_bigrams"),
          Det.rN(-Det.dsum(col("lp")) / count(lit(1)), 6).as("ce")
        )
        .orderBy(col("doc_id"))
    }
  )

  /** Within-document repetition signals (the Gopher/MassiveText
    * repetition family): duplicate-trigram fraction and the mass of the
    * single most frequent token. High values flag boilerplate, keyword
    * stuffing, and generation loops — the quality axis [[textQuality]]'s
    * surface ratios don't see, applied per doc before any corpus-level
    * dedup.
    *
    * Determinism: every input to the two ratios is an exact count; each
    * ratio is ONE IEEE division of identical longs, trunc-rounded 6 dp.
    *
    * 100 TB: the trigram stats are per-row array ops (no shuffle); the
    * token-mode stats are one (doc, token) aggregate + one per-doc
    * aggregate — both partial-aggregating, keyed on doc so skew equals
    * document size, which [[textChunk]] bounds upstream. */
  val textRepetition: Q = Q(
    "text_repetition",
    Some(
      "WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents), " +
        "tri AS (SELECT doc_id, list_filter(list_transform(" +
        "list_zip(t, t[2:], t[3:]), x -> x[1] || ' ' || x[2] || ' ' || x[3]), " +
        "v -> v IS NOT NULL) AS tg FROM d), " +
        "ts AS (SELECT doc_id, len(tg) AS n_tri, len(list_distinct(tg)) AS n_tri_d FROM tri), " +
        "tokc AS (SELECT doc_id, tok, count(*) AS c FROM " +
        "(SELECT doc_id, unnest(t) AS tok FROM d) GROUP BY doc_id, tok), " +
        "tc AS (SELECT doc_id, cast(max(c) as bigint) AS maxc, cast(sum(c) as bigint) AS n_tokens " +
        "FROM tokc GROUP BY doc_id) " +
        "SELECT d.doc_id, d.lang, tc.n_tokens, " +
        "CASE WHEN ts.n_tri = 0 THEN 0.0 ELSE " +
        Det.oRN("(ts.n_tri - ts.n_tri_d)::DOUBLE / ts.n_tri", 6) + " END AS dup_trigram_frac, " +
        Det.oRN("tc.maxc::DOUBLE / tc.n_tokens", 6) + " AS top_tok_ratio " +
        "FROM d JOIN ts USING (doc_id) JOIN tc USING (doc_id) ORDER BY doc_id"
    ),
    (spark, dir) => {
      val d = Tables
        .documents(spark, dir)
        .select(col("doc_id"), col("lang"), toks(col("text")).as("t"))
      // trigrams via two zips (null-padded like DuckDB list_zip; concat
      // with a null operand is null and is filtered)
      val tg = filter(
        zip_with(
          zip_with(
            col("t"),
            slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
            (a, b) => concat(a, lit(" "), b)
          ),
          slice(col("t"), lit(3), greatest(size(col("t")) - 2, lit(0))),
          (ab, c) => concat(ab, lit(" "), c)
        ),
        v => v.isNotNull
      )
      val ts = d.select(
        col("doc_id"),
        col("lang"),
        size(tg).as("n_tri"),
        size(array_distinct(tg)).as("n_tri_d")
      )
      val tc = d
        .select(col("doc_id"), explode(col("t")).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("maxc"), sum(col("c")).as("n_tokens"))
      ts.join(tc, Seq("doc_id"))
        .select(
          col("doc_id"),
          col("lang"),
          col("n_tokens"),
          when(col("n_tri") === 0, lit(0.0))
            .otherwise(Det.rN((col("n_tri") - col("n_tri_d")).cast("double") / col("n_tri"), 6))
            .as("dup_trigram_frac"),
          Det.rN(col("maxc").cast("double") / col("n_tokens"), 6).as("top_tok_ratio")
        )
        .orderBy(col("doc_id"))
    }
  )

  /** Inverted-index build: token → document frequency + the head of
    * its sorted posting list. The index [[textBm25Topk]] would serve
    * from in production — materialized as a table, the BM25 query's
    * token-stream scan becomes an index lookup.
    *
    * Determinism: postings are sorted doc_id lists cut to 8 and
    * comma-serialized (SURVEY §2.9.3 — the driver comparator rejects
    * top-level arrays); df is an exact count over the DISTINCT
    * (token, doc) incidence.
    *
    * 100 TB: one distinct + one groupBy on token (both
    * partial-aggregating); posting lists are value-bounded by the head
    * cut — full lists would instead be doc_id-range-bucketed (one
    * posting shard per range) to bound row width. */
  val textInvertedIndex: Q = Q(
    "text_inverted_index",
    Some(
      "WITH td AS (SELECT DISTINCT tok, doc_id FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS tok, doc_id FROM documents)), " +
        "p AS (SELECT tok, cast(count(*) as bigint) AS df, " +
        "array_to_string(list_transform(list_sort(list(doc_id))[1:8], v -> v::VARCHAR), ',') " +
        "AS postings_head FROM td GROUP BY tok) " +
        "SELECT tok, df, postings_head FROM p WHERE df >= 50 ORDER BY tok"
    ),
    (spark, dir) => {
      Tables
        .documents(spark, dir)
        .select(explode(toks(col("text"))).as("tok"), col("doc_id"))
        .distinct()
        .groupBy(col("tok"))
        .agg(
          count(lit(1)).as("df"),
          array_join(slice(sort_array(collect_list(col("doc_id"))), 1, 8), ",").as("postings_head")
        )
        .filter(col("df") >= 50)
        .orderBy(col("tok"))
    }
  )

  /** BPE merge-pair counting — the inner step of byte-pair-encoding
    * tokenizer training: over every corpus token occurrence, count
    * adjacent character pairs; the top pair is the next merge a BPE
    * trainer would apply. Emitted as the top 30 candidate merges.
    * Complements [[textBigramLm]] (token-level) at the character
    * level, where tokenizers actually operate.
    *
    * Determinism: chars come from the same regexp in both engines;
    * counts are exact; ties in the top-30 break on the pair string.
    *
    * 100 TB: the char-pair expression work (regexp split + adjacent
    * zip + explode) runs once per DISTINCT token, not once per token
    * OCCURRENCE — [[bpeWords]] reduces the corpus to its Zipf-small
    * (tok, freq) vocabulary first (map-side partial counts; this is
    * the wordcount every real BPE trainer starts with, and the same
    * table the training loop here already builds), and each emitted
    * pair carries the token's frequency as an exact integer weight.
    * `sum(freq)` over pairs equals the per-occurrence `count(*)`
    * exactly, so the top-30 and its tie order are unchanged (oracle
    * keeps the per-occurrence spelling). The pair aggregate stays
    * partial/map-side over a |alphabet|² key space; top-30 is
    * TakeOrderedAndProject. */
  val textBpePairs: Q = Q(
    "text_bpe_pairs",
    Some(
      "WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "ch AS (SELECT regexp_extract_all(tok, '.') AS c FROM t), " +
        "pr AS (SELECT unnest(list_filter(list_transform(list_zip(c, c[2:]), " +
        "x -> x[1] || x[2]), v -> v IS NOT NULL)) AS pair FROM ch) " +
        "SELECT pair, cast(count(*) as bigint) AS n FROM pr GROUP BY pair " +
        "ORDER BY n DESC, pair LIMIT 30"
    ),
    (spark, dir) => {
      val c = regexp_extract_all(col("tok"), lit("."), lit(0))
      bpeWords(spark, dir)
        .select(col("freq"), c.as("c"))
        .select(
          col("freq"),
          explode(
            filter(
              zip_with(
                col("c"),
                slice(col("c"), lit(2), greatest(size(col("c")) - 1, lit(0))),
                (a, b) => concat(a, b)
              ),
              v => v.isNotNull
            )
          ).as("pair")
        )
        .groupBy(col("pair"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(30)
    }
  )

  /** Zipf-law fit over the corpus rank-frequency curve — the scalar
    * companion to [[textVocab]]'s table: log-log least squares of
    * token frequency against rank. A healthy natural-language corpus
    * has slope ≈ −1; a flat slope flags synthetic/templated text and a
    * cliff flags boilerplate domination — a one-row corpus-health gate
    * a curation pipeline checks per crawl snapshot.
    *
    * Determinism: counts exact; the rank is a row_number with a total
    * tie-break (freq desc, token asc); ln() is correctly rounded on
    * identical doubles; the five regression sums are [[Det.dsum]]
    * exact decimal sums; the closed-form slope/intercept/r² are pure
    * IEEE arithmetic on identical aggregates, trunc-rounded 6 dp.
    *
    * 100 TB: one explode + one token-keyed partial aggregate (the
    * count table is vocabulary-sized, tiny); the single-partition
    * row_number window runs over |vocab| rows, not the corpus, and the
    * regression is one scalar aggregate over the same tiny table. */
  val textZipfFit: Q = Q(
    "text_zipf_fit",
    Some(
      "WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "c AS (SELECT tok, count(*) AS n FROM t GROUP BY 1), " +
        "r AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rnk FROM c), " +
        "pts AS (SELECT ln(rnk::DOUBLE) AS x, ln(n::DOUBLE) AS y FROM r), " +
        "m AS (SELECT count(*)::DOUBLE AS n, " +
        s"${Det.oSum("x")} AS sx, ${Det.oSum("y")} AS sy, ${Det.oSum("x * y")} AS sxy, " +
        s"${Det.oSum("x * x")} AS sxx, ${Det.oSum("y * y")} AS syy FROM pts) " +
        "SELECT cast(n as bigint) AS vocab_size, " +
        Det.oRS("(n * sxy - sx * sy) / (n * sxx - sx * sx)", 6) + " AS slope, " +
        Det.oRS("(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n", 6) +
        " AS intercept, " +
        Det.oRN(
          "((n * sxy - sx * sy) * (n * sxy - sx * sy)) / " +
            "((n * sxx - sx * sx) * (n * syy - sy * sy))",
          6
        ) + " AS r2 FROM m"
    ),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy(Det.onePart(col("tok"))).orderBy(col("n").desc, col("tok"))
      val m = Tables
        .documents(spark, dir)
        .select(explode(toks(col("text"))).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rnk", row_number().over(ord))
        .select(log(col("rnk").cast("double")).as("x"), log(col("n").cast("double")).as("y"))
        .agg(
          count(lit(1)).cast("double").as("n"),
          Det.dsum(col("x")).as("sx"),
          Det.dsum(col("y")).as("sy"),
          Det.dsum(col("x") * col("y")).as("sxy"),
          Det.dsum(col("x") * col("x")).as("sxx"),
          Det.dsum(col("y") * col("y")).as("syy")
        )
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val vx  = col("n") * col("sxx") - col("sx") * col("sx")
      val vy  = col("n") * col("syy") - col("sy") * col("sy")
      m.select(
        col("n").cast("long").as("vocab_size"),
        Det.rS(cov / vx, 6).as("slope"),
        Det.rS((col("sy") - cov / vx * col("sx")) / col("n"), 6).as("intercept"),
        Det.rN((cov * cov) / (vx * vy), 6).as("r2")
      )
    }
  )

  /** Corpus-growth novelty per source: the fraction of each document's
    * distinct 5-token shingles that the document INTRODUCES to the
    * corpus (its doc_id is the minimum over all docs containing the
    * shingle). Training-data teams track this curve to decide when a
    * crawl source is mined out — novelty decaying toward 0 means new
    * batches only repeat already-held n-grams (the "data exhaustion"
    * signal of scaling-law work).
    *
    * Determinism: shingle sets and first-owner minima are exact; the
    * per-doc ratio `n_novel / n_sh` is one IEEE division of exact
    * integers; `avg_novelty` goes through the order-independent
    * decimal sum; `corpus_novelty` is one division of exact integer
    * sums — trunc-rounded 6 dp in both engines. CAVEAT: the Spark path
    * identifies a shingle by its xxhash64 while the oracle compares the
    * 5-token strings, so a 64-bit collision between distinct shingles
    * would merge two first-owner groups and shift the counts — P ≈
    * n²/2⁶⁵ (~10⁻⁸ at 10⁵ distinct shingles), accepted at fixture
    * scale; carry (hash, shingle) through the window key if the oracle
    * equality must be unconditional.
    *
    * 100 TB: ONE scan of the corpus (PLANS.md); the first-owner
    * computation is a whole-partition window min over the 8-byte
    * shingle-hash key — unlike the aggregate-then-join-back phrasing
    * it never materializes a second branch of the scan, never asks a
    * corpus-sized first-owner table to broadcast, and adds no join.
    * Three hash-only exchanges total (per-doc dedup, shingle window,
    * per-doc rollup); the per-source rollup partial-aggregates.
    * Nothing shuffles document text — only hashes and counts. */
  val textNgramNovelty: Q = Q(
    "text_ngram_novelty",
    Some(
      "WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents), " +
        "g AS (SELECT doc_id, source, unnest(generate_series(1, len(toks)-4)) AS pos, toks " +
        "FROM t WHERE len(toks) >= 5), " +
        "sh AS (SELECT DISTINCT doc_id, source, array_to_string(toks[pos:pos+4], ' ') AS s FROM g), " +
        "fo AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s), " +
        "d AS (SELECT doc_id, source, count(*) AS n_sh, " +
        "sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS n_novel " +
        "FROM sh JOIN fo USING (s) GROUP BY 1, 2) " +
        "SELECT source, count(*)::BIGINT AS n_docs, " +
        "cast(sum(n_sh) as bigint) AS n_shingles, " +
        "cast(sum(n_novel) as bigint) AS n_novel, " +
        Det.oRN(s"${Det.oSum("n_novel::DOUBLE / n_sh")} / count(*)", 6) + " AS avg_novelty, " +
        Det.oRN("cast(sum(n_novel) as bigint)::DOUBLE / cast(sum(n_sh) as bigint)", 6) +
        " AS corpus_novelty " +
        "FROM d GROUP BY source ORDER BY source"
    ),
    (spark, dir) => {
      // Served from the shingle-set view: its per-doc arrays are
      // already DISTINCT, so the explode needs no dedup exchange, and
      // `source` rides the view row. The view's rolling-hash keys
      // partition shingles into the same equality classes as the
      // oracle's string shingles (same injective-modulo-2^-45-collision
      // argument as text_contamination; the sf0.01 hash gate re-proves
      // it every round).
      val sh = contamShingles(spark, dir)
        .select(col("doc_id"), col("source"), explode(col("s")).as("h"))
      val byShingle = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
      val d = sh
        .withColumn("first_doc", min(col("doc_id")).over(byShingle))
        .groupBy(col("doc_id"), col("source"))
        .agg(
          count(lit(1)).as("n_sh"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel")
        )
      d.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_sh")).cast("long").as("n_shingles"),
          sum(col("n_novel")).cast("long").as("n_novel"),
          Det.rN(Det.dsum(col("n_novel").cast("double") / col("n_sh")) / count(lit(1)), 6)
            .as("avg_novelty"),
          Det.rN(
            sum(col("n_novel")).cast("long").cast("double") / sum(col("n_sh")).cast("long"),
            6
          ).as("corpus_novelty")
        )
        .orderBy(col("source"))
    }
  )

  /** The dataset card grid: one row per (source, lang) cell with doc /
    * char / token volumes, corpus shares, and the exact-dup rate —
    * the summary table a corpus release ships (HuggingFace dataset
    * cards, Dolma/RedPajama reports). Complements [[pipelineManifest]]
    * (lang rollup + checksums) and mix_report (per-source sampling
    * plan) with the full two-dimensional composition view.
    *
    * Determinism: every measure is an exact integer aggregate; shares
    * and the dup rate are single IEEE divisions of exact integers,
    * trunc-rounded 6 dp.
    *
    * 100 TB: one groupBy on the tiny (source, lang) key with map-side
    * combine; corpus totals re-aggregate the cell table (rows = |src|
    * × |lang|, trivially broadcast). sha256 dedup counting rides the
    * same single scan — no second pass over text. */
  val pipelineDatasetCard: Q = Q(
    "pipeline_dataset_card",
    Some(
      "WITH c AS (SELECT source, lang, count(*)::BIGINT AS n_docs, " +
        "cast(sum(n_chars) as bigint) AS total_chars, " +
        "cast(sum(len(string_split(text, ' '))) as bigint) AS total_toks, " +
        "cast(count(DISTINCT sha256(text)) as bigint) AS n_distinct " +
        "FROM documents GROUP BY 1, 2), " +
        "t AS (SELECT cast(sum(n_docs) as bigint) AS td, cast(sum(total_toks) as bigint) AS tt FROM c) " +
        "SELECT source, lang, n_docs, total_chars, total_toks, n_distinct, " +
        Det.oRN("n_docs::DOUBLE / td", 6) + " AS docs_share, " +
        Det.oRN("total_toks::DOUBLE / tt", 6) + " AS toks_share, " +
        Det.oRN("1.0 - n_distinct::DOUBLE / n_docs", 6) + " AS dup_rate " +
        "FROM c CROSS JOIN t ORDER BY source, lang"
    ),
    (spark, dir) => {
      val c = Tables
        .documents(spark, dir)
        .groupBy(col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          sum(size(toks(col("text")))).cast("long").as("total_toks"),
          countDistinct(sha2(col("text"), 256)).as("n_distinct")
        )
      val t = c.agg(
        sum(col("n_docs")).cast("long").as("td"),
        sum(col("total_toks")).cast("long").as("tt")
      )
      c.crossJoin(broadcast(t))
        .select(
          col("source"),
          col("lang"),
          col("n_docs"),
          col("total_chars"),
          col("total_toks"),
          col("n_distinct"),
          Det.rN(col("n_docs").cast("double") / col("td"), 6).as("docs_share"),
          Det.rN(col("total_toks").cast("double") / col("tt"), 6).as("toks_share"),
          Det.rN(lit(1.0) - col("n_distinct").cast("double") / col("n_docs"), 6).as("dup_rate")
        )
        .orderBy(col("source"), col("lang"))
    }
  )

  // ----------------------------------------------------------------
  // BPE tokenizer TRAINING — the iterative companion of
  // [[textBpePairs]] (which counts one round's candidates): learn the
  // top [[BpeMerges]] merges by replaying the classic loop — count
  // adjacent symbol pairs weighted by word frequency, merge the argmax
  // pair everywhere, repeat (Sennrich et al., ACL 2016). Like the PQ
  // Lloyd loop, every step is deterministic (exact integer counts,
  // argmax with a total-order (count desc, pair asc) tie-break, and a
  // fixed [[BpePasses]]-pass literal string replace), so the DuckDB
  // oracle replays the WHOLE training loop symbolically.
  //
  // 100 TB: the corpus is scanned ONCE into a word-frequency table
  // (vocabulary-sized — the standard trick: BPE statistics are
  // invariant to collapsing repeated words), persisted, and every
  // iteration runs on that table alone: one vocab-sized pair aggregate
  // plus a ONE-row argmax fetch (the kmeans-style bounded model
  // fetch). Encoding afterwards is a broadcast vocab join. This is
  // exactly how distributed BPE trainers (e.g. the BigScience/Gopher
  // pipelines) structure the job.
  //
  // Merge application uses a space-delimited symbol string (' k e y ')
  // and replaces ' A B ' -> ' AB ' in [[BpePasses]] left-to-right
  // passes. Because the pattern carries both delimiting spaces, a
  // match can never split a symbol; consecutive occurrences sharing a
  // delimiter are caught by the later passes. (For odd runs >= 5 of a
  // self-pair this deviates from the canonical leftmost-greedy scan —
  // 'a a a a a' becomes 'aa a aa' not 'aa aa a' — but both engines'
  // replace() has identical continue-after-match semantics, so the
  // loop is engine-portable and self-consistent, which is the contract
  // here.)
  // ----------------------------------------------------------------

  private val BpeMerges = 10
  private val BpePasses = 3

  /** The initial space-wrapped character-symbol state of a `tok`
    * column — shared by the training loop, the persisted vocab build,
    * and the streaming twin so the spelling can never fork. */
  private[graft] def bpeInitSt: Column =
    concat(lit(" "), array_join(expr("regexp_extract_all(tok, '.', 0)"), " "), lit(" "))

  /** Per-document token counts (doc_id, tok, cnt) — the PER-DOCUMENT
    * PURE projection the streaming twin merges by (doc_id, tok): a
    * replayed document recomputes identical rows, so the keyed merge
    * is idempotent even though the vocab itself is a corpus
    * aggregate. */
  private[graft] def bpeDocTokenCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))

  /** The served vocab (tok, freq, st) from merged per-doc counts under
    * a FROZEN merge list — the single spelling behind the persisted
    * view and [[graft.streaming.StreamDemos.streamedBpeVocab]]. */
  private[graft] def bpeVocabOf(docTokCounts: DataFrame, merges: Seq[String]): DataFrame =
    docTokCounts
      .groupBy(col("tok"))
      .agg(sum(col("cnt")).as("freq"))
      .withColumn("st", merges.foldLeft(bpeInitSt)(bpeApply))

  /** (tok, freq, st): corpus word frequencies with the initial
    * space-wrapped character-symbol state. */
  private def bpeWords(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(explode(toks(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("st", bpeInitSt)

  /** Adjacent-pair counts of a word-state frame: (pr = 'A B', n). */
  private def bpePairCounts(w: DataFrame): DataFrame = {
    val c = split(trim(col("st")), " ")
    w.select(
        col("freq"),
        explode(
          filter(
            zip_with(
              c,
              slice(c, lit(2), greatest(size(c) - 1, lit(0))),
              (a, b) => concat(a, lit(" "), b)),
            v => v.isNotNull)).as("pr"))
      .groupBy(col("pr"))
      .agg(sum(col("freq")).as("n"))
  }

  /** One merge applied [[BpePasses]] times to a state column. */
  private def bpeApply(st: Column, pr: String): Column = {
    val pat = lit(" " + pr + " ")
    val rep = lit(" " + pr.replace(" ", "") + " ")
    (1 to BpePasses).foldLeft(st)((e, _) => replace(e, pat, rep))
  }

  /** Run the training loop: returns the merge list (rank, pair, count).
    * Driver-iterated like the k-means Lloyd loop — each pass is one
    * vocab-sized pair aggregate plus a ONE-row argmax fetch, and the
    * word-state table advances INCREMENTALLY: merge i's replace passes
    * apply ONCE to the previous MATERIALIZED state, never re-stacked
    * from the initial state (the r12 spelling re-evaluated an
    * O(merges²)-replace expression chain per round — invisible at 10
    * merges, a wall at 100+; cost curve in SCALING.md). At most two
    * vocab-sized cache generations are ever live, and lineage is
    * truncated every 16 rounds so plan depth and the RDD graph stay
    * bounded at ANY merge count — the shape that holds at a real
    * tokenizer's 32k merges. Called ONLY from inside the view builds,
    * so the loop runs once per input fingerprint ever; every consumer
    * reads the write-once view. */
  private def bpeTrainLoop(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      nMerges: Int = BpeMerges): Seq[(Int, String, Long)] =
    bpeTrainLoopOn(bpeWords(spark, dir), nMerges)

  /** The trainer core over ANY (freq, st) word-state frame — split out
    * so the depth/linearity spec can train 100+ merges on a synthetic
    * vocabulary richer than the fixture corpus's 31 words (whose pair
    * pool exhausts at 89). */
  private[graft] def bpeTrainLoopOn(
      words: DataFrame,
      nMerges: Int): Seq[(Int, String, Long)] = {
    import org.apache.spark.storage.StorageLevel
    // one corpus scan; iteration i reads generation i-1's vocab-sized cache
    var w = words.persist(StorageLevel.MEMORY_AND_DISK)
    var prev: Option[DataFrame] = None
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var i = 1
    var exhausted = false
    while (i <= nMerges && !exhausted) {
      val best = bpePairCounts(w)
        .orderBy(col("n").desc, col("pr"))
        .limit(1)
        .collect() // ONE row: the model fetch of this iteration
      // the aggregate above materialized w's cache, so the predecessor's
      // blocks can go now — never before, or the scan would recompute
      prev.foreach(_.unpersist(blocking = false))
      prev = None
      if (best.isEmpty) {
        // every word is a single symbol: nothing left to merge (only
        // reachable when nMerges exceeds the corpus's total pair budget;
        // the oracle's b{i} CTEs go empty at the same rank, so the
        // driver compare still matches row-for-row)
        exhausted = true
      } else {
        val pr = best(0).getString(0)
        merges += ((i, pr, best(0).getLong(1)))
        prev = Some(w)
        val next = w.withColumn("st", bpeApply(col("st"), pr))
        w =
          if (i % 16 == 0) Lineage.truncate(next) // bounded lineage at any merge count
          else next.persist(StorageLevel.MEMORY_AND_DISK)
        i += 1
      }
    }
    prev.foreach(_.unpersist(blocking = false))
    w.unpersist(blocking = false)
    merges.toSeq
  }

  /** Encode ANY frame carrying a `tok` column under a FROZEN merge
    * list by applying the merges directly to the token's character
    * state — no vocabulary join. This is the OOV-safe serving path:
    * the persisted vocab view is a MEMO for tokens seen at training
    * time (one replace-chain evaluation per distinct word instead of
    * per instance), never a semantic dependency — a token outside the
    * training vocabulary still encodes (its characters simply take
    * whatever merges apply), which is what makes the frozen tokenizer
    * total over future corpora. BpeSpec pins memo == direct on every
    * trained token. */
  private[graft] def bpeEncodeStates(withTok: DataFrame, merges: Seq[String]): DataFrame =
    withTok
      .withColumn("st", merges.foldLeft(bpeInitSt)(bpeApply))
      .withColumn("n_toks", size(split(trim(col("st")), " ")).cast("long"))

  /** The frozen merge list ('lhs rhs' strings in rank order) from a
    * persisted merges view — a bounded [[BpeMerges]]-row fetch. */
  private[graft] def bpeMergeList(
      spark: org.apache.spark.sql.SparkSession,
      mergesPath: String): Seq[String] =
    spark.read.parquet(mergesPath).orderBy(col("rank")).collect()
      .map(r => r.getString(1) + " " + r.getString(2)).toSeq

  /** Write-once BPE tokenizer index: the learned merge table
    * (rank, lhs, rhs, merged, n) and the final per-word symbol states
    * (tok, freq, st) — the vocabulary under the frozen tokenizer. The
    * vocab build does NOT retrain: it re-applies the [[BpeMerges]]
    * persisted merges (a bounded 10-row fetch + stacked literal
    * replaces over the vocab-sized word table), so the expensive loop
    * runs exactly once per input and serving queries are view probes —
    * the same freeze-then-serve contract as the IVF/PQ quantizers. */
  /** Merge list → the persisted merge-table shape. */
  private def bpeMergesFrame(
      spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(Int, String, Long)]): DataFrame = {
    import spark.implicits._
    merges
      .map { case (rank, pr, n) =>
        val Array(l, r) = pr.split(" ", 2)
        (rank, l, r, pr.replace(" ", ""), n)
      }
      .toDF("rank", "lhs", "rhs", "merged", "n")
  }

  private[graft] def bpeIndexPath(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    // merges buildVersion 2: r13 respelled the train loop onto
    // incremental materialized state (identical content — same exact
    // counts, same argmax total order — but the §14 rule is
    // unconditional: any derivation change bumps)
    val mergesPath = graft.ViewStore.materialize(spark, "graft_bpe_index/merges", dir, buildVersion = 2) {
      bpeMergesFrame(spark, bpeTrainLoop(spark, dir))
    }
    // buildVersion 2: derivation respelled onto the shared
    // bpeDocTokenCounts/bpeVocabOf helpers (identical content — freq is
    // the same instance count — but the §14 rule is unconditional)
    val vocabPath = graft.ViewStore.materialize(spark, "graft_bpe_index/vocab", dir, buildVersion = 2) {
      bpeVocabOf(
        bpeDocTokenCounts(Tables.documents(spark, dir)),
        bpeMergeList(spark, mergesPath))
    }
    (mergesPath, vocabPath)
  }

  /** Oracle CTE chain replaying the training loop: wf/w0 + per-merge
    * (p{i} pair counts, b{i} argmax, w{i} replaced states). w{i} CTEs
    * are MATERIALIZED: each is referenced twice (by p{i+1} and w{i+1}),
    * so the default inlining re-evaluates the chain exponentially
    * (measured 46 s -> 0.1 s at sf0.01). */
  private def bpeOracleCtes: String = bpeOracleCtesAt(BpeMerges)

  private def bpeOracleCtesAt(nMerges: Int): String = {
    val head =
      "wf AS (SELECT tok, cast(count(*) as bigint) AS freq FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY tok), " +
        "w0 AS (SELECT tok, freq, " +
        "' ' || array_to_string(regexp_extract_all(tok, '.'), ' ') || ' ' AS st FROM wf)"
    val iters = (1 to nMerges).map { i =>
      val rep = (1 to BpePasses).foldLeft("st")((e, _) =>
        s"replace($e, ' '||b.pr||' ', ' '||replace(b.pr,' ','')||' ')")
      s"p$i AS (SELECT pr, cast(sum(freq) as bigint) AS n FROM " +
        "(SELECT freq, unnest(list_filter(list_transform(list_zip(c, c[2:]), " +
        "x -> x[1] || ' ' || x[2]), v -> v IS NOT NULL)) AS pr " +
        s"FROM (SELECT freq, string_split(trim(st), ' ') AS c FROM w${i - 1})) GROUP BY pr), " +
        s"b$i AS (SELECT $i AS rank, pr, n FROM p$i ORDER BY n DESC, pr LIMIT 1), " +
        s"w$i AS MATERIALIZED (SELECT tok, freq, $rep AS st FROM w${i - 1}, b$i b)"
    }
    (head +: iters).mkString(", ")
  }

  /** The learned merge table — rank, the two merged symbols, the new
    * symbol, and the weighted pair count that won the round. */
  val textBpeTrain: Q = Q(
    "text_bpe_train",
    Some(
      s"WITH $bpeOracleCtes, " +
        (1 to BpeMerges).map(i => s"SELECT * FROM b$i").mkString("allb AS (", " UNION ALL ", ") ") +
        "SELECT cast(rank as int) AS rank, split_part(pr, ' ', 1) AS lhs, " +
        "split_part(pr, ' ', 2) AS rhs, replace(pr, ' ', '') AS merged, n " +
        "FROM allb ORDER BY rank"
    ),
    (spark, dir) =>
      spark.read.parquet(bpeIndexPath(spark, dir)._1).orderBy(col("rank"))
  )

  /** Production tokenizers train 32k merges, not 10 — the gap VERDICT
    * r12 #6 named. This row trains with a [[BpeWideMerges]] (100)
    * merge BUDGET through the SAME loop and proves three things at
    * once: (a) the incremental-state trainer's cost is linear in merge
    * count (one vocab aggregate + one bounded replace projection per
    * round — the r12 stacked-expression spelling re-evaluated an
    * O(M²)-replace chain; measured curve in SCALING.md, and
    * TextEvalSpec trains 128 merges on a synthetic 200-word vocabulary
    * to exercise true depth); (b) the learned merges stay exact at
    * depth — the DuckDB oracle replays all 100 rounds symbolically and
    * the driver hash-checks every (rank, lhs, rhs, merged, n) row; and
    * (c) EXHAUSTION parity: the fixture corpus has 31 distinct words,
    * whose pair pool runs dry at 89 merges — the loop stops when the
    * argmax fetch comes back empty, and the oracle's b{i} CTEs go
    * empty at exactly the same rank, so both sides emit the same
    * 89 rows (real trainers hit this on small corpora; diverging here
    * would mean the loop and the algebra disagree about termination).
    * Greedy BPE is prefix-stable, so rows 1..10 of this view equal
    * `text_bpe_train`'s view verbatim (pinned in TextEvalSpec).
    * Serving shape is identical: the loop runs once per input
    * fingerprint into a write-once view; this query is a probe. */
  private[graft] val BpeWideMerges = 100

  private[graft] def bpeWideMergesPath(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    graft.ViewStore.materialize(spark, "graft_bpe_index/merges_wide", dir) {
      bpeMergesFrame(spark, bpeTrainLoop(spark, dir, BpeWideMerges))
    }

  val textBpeTrainWide: Q = Q(
    "text_bpe_train_wide",
    Some(
      s"WITH ${bpeOracleCtesAt(BpeWideMerges)}, " +
        (1 to BpeWideMerges).map(i => s"SELECT * FROM b$i").mkString("allb AS (", " UNION ALL ", ") ") +
        "SELECT cast(rank as int) AS rank, split_part(pr, ' ', 1) AS lhs, " +
        "split_part(pr, ' ', 2) AS rhs, replace(pr, ' ', '') AS merged, n " +
        "FROM allb ORDER BY rank"
    ),
    (spark, dir) =>
      spark.read.parquet(bpeWideMergesPath(spark, dir)).orderBy(col("rank"))
  )

  /** Encoding under the learned tokenizer: per-document word and
    * BPE-token counts. The final word states are a vocabulary-sized
    * table — the exploded corpus joins it by token (broadcast-able at
    * any corpus size), the same serve shape as tf-idf's df join. */
  val textBpeEncode: Q = Q(
    "text_bpe_encode",
    Some(
      s"WITH $bpeOracleCtes, " +
        "dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) " +
        "SELECT d.doc_id, cast(count(*) as bigint) AS n_words, " +
        "cast(sum(len(string_split(trim(w.st), ' '))) as bigint) AS n_bpe_tokens " +
        s"FROM dt d JOIN w$BpeMerges w ON d.tok = w.tok " +
        "GROUP BY d.doc_id ORDER BY d.doc_id"
    ),
    (spark, dir) => {
      val vocab = spark.read.parquet(bpeIndexPath(spark, dir)._2)
        .select(col("tok"), size(split(trim(col("st")), " ")).cast("long").as("n_toks"))
      Tables
        .documents(spark, dir)
        .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
        .join(broadcast(vocab), Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_toks")).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }
  )

  /** Tokenizer-drift audit under the FROZEN tokenizer — the retrain
    * trigger, and the sibling of `pq_distortion_report` (every frozen
    * model artifact in this engine ships its drift metric: IVF/PQ
    * report quantization distortion, the tokenizer reports compression).
    * Per language: words, BPE tokens, characters, chars-per-token,
    * tokens-per-word, and the slice's chars-per-token drift vs the
    * corpus baseline — a slice whose compression falls below baseline
    * is one the merges were not trained for (new language, new domain),
    * which is exactly when production tokenizers get retrained (a new
    * buildVersion, never an in-place mutation). Serve shape: one
    * corpus scan joined to the broadcast vocab view, a |langs|-sized
    * aggregate, and a 1-row broadcast baseline attach (a
    * BroadcastNestedLoopJoin with a single build row — bounded by
    * construction, not a data-shaped cartesian). All ratios are IEEE
    * divisions of exact long sums, so the DuckDB replay is
    * bit-equal. */
  val textBpeDrift: Q = Q(
    "text_bpe_drift",
    Some(
      s"WITH $bpeOracleCtes, " +
        "dt AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "per AS (SELECT d.lang, cast(count(*) as bigint) AS n_words, " +
        "cast(sum(len(string_split(trim(w.st), ' '))) as bigint) AS n_bpe_tokens, " +
        "cast(sum(len(d.tok)) as bigint) AS n_chars " +
        s"FROM dt d JOIN w$BpeMerges w ON d.tok = w.tok GROUP BY d.lang), " +
        "corp AS (SELECT cast(sum(n_chars) as double) / cast(sum(n_bpe_tokens) as double) " +
        "AS gcpt FROM per) " +
        "SELECT lang, n_words, n_bpe_tokens, n_chars, " +
        Det.oRS("cast(n_chars as double) / cast(n_bpe_tokens as double)", 6) +
        " AS chars_per_token, " +
        Det.oRS("cast(n_bpe_tokens as double) / cast(n_words as double)", 6) +
        " AS tokens_per_word, " +
        Det.oRS("cast(n_chars as double) / cast(n_bpe_tokens as double) - gcpt", 6) +
        " AS cpt_drift " +
        "FROM per, corp ORDER BY lang"
    ),
    (spark, dir) => {
      val vocab = spark.read.parquet(bpeIndexPath(spark, dir)._2)
        .select(
          col("tok"),
          size(split(trim(col("st")), " ")).cast("long").as("n_toks"),
          length(col("tok")).cast("long").as("tlen"))
      val per = Tables
        .documents(spark, dir)
        .select(col("lang"), explode(toks(col("text"))).as("tok"))
        .join(broadcast(vocab), Seq("tok"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_words"),
          sum(col("n_toks")).as("n_bpe_tokens"),
          sum(col("tlen")).as("n_chars"))
      val glob = per.agg(
        (sum(col("n_chars")).cast("double") / sum(col("n_bpe_tokens")).cast("double"))
          .as("gcpt"))
      per
        .crossJoin(broadcast(glob)) // bounded build: ONE baseline row
        .select(
          col("lang"), col("n_words"), col("n_bpe_tokens"), col("n_chars"),
          Det.rS(col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"), 6)
            .as("chars_per_token"),
          Det.rS(col("n_bpe_tokens").cast("double") / col("n_words").cast("double"), 6)
            .as("tokens_per_word"),
          Det.rS(
            col("n_chars").cast("double") / col("n_bpe_tokens").cast("double") - col("gcpt"),
            6).as("cpt_drift"))
        .orderBy(col("lang"))
    }
  )

  def qs: Seq[Q] = Seq(
    textStats, textTfidfTop, textLangid, textQuality, textTokens, textFingerprint,
    textPiiRedact, reportScores, textBigramLm, textChunk, textVocab, pipelineCurate,
    textContamination, textHeavyHitters, pipelineFunnel, pipelineManifest, textEntropy,
    pipelineCurriculum, textBm25Topk, textBm25Persisted, textPerplexity, textRepetition,
    textInvertedIndex, textBpePairs, textZipfFit, textNgramNovelty, pipelineDatasetCard,
    textBpeTrain, textBpeEncode, textBpeDrift, textBpeTrainWide
  )
}
