package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (builder-prompt north star; SURVEY §2.14): tokenization + stats,
  * n-gram-heuristic language ID, quality scoring, positional polynomial
  * fingerprinting, and TF-IDF.
  *
  * Everything is native Catalyst expressions over `split`/higher-order
  * array functions — zero UDFs, so the whole path stays in whole-stage
  * codegen and scales linearly with input (the only shuffles are the
  * final aggregations). Every query is DuckDB-oracle-checked; cross-engine
  * determinism rules: no engine-specific hash functions (the fingerprint
  * is built from length/ascii arithmetic both engines share), FP outputs
  * rounded to 6 decimals, integer arithmetic exact.
  */
object TextAnalysis {

  /** Unicode-aware normalization (NFC → diacritic strip → lower) via
    * the native codegen'd `normalize_text` expression. Complements the
    * SQL-oracle [[normalize]] query, whose scope is deliberately ASCII
    * (DuckDB cannot express Java's Normalizer); pinned instead by
    * UnicodeNormalizeSuite at two SFs. */
  def normalizeUnicode(c: Column): Column = call_function("normalize_text", c)

  private def toks: Column = split(col("text"), " ")

  /** Per-document token statistics (tokenize + whitespace token count). */
  val tokenStats: QueryDef = QueryDef.sql(
    "ta_token_stats",
    """SELECT doc_id,
      |  len(toks) AS n_tokens,
      |  len(list_distinct(toks)) AS n_distinct,
      |  round(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
      |        * 1.0 / len(toks), 6) AS avg_token_len,
      |  length(text) AS n_chars_actual
      |FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents) t
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), toks.as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        round(
          aggregate(transform(col("toks"), t => length(t)), lit(0),
            (a, x) => a + x).cast("double") / size(col("toks")), 6)
          .as("avg_token_len"),
        length(col("text")).as("n_chars_actual"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID by stopword-marker counts (n-gram heuristic). Scores are
    * exact integer counts; the argmax tie-breaks by fixed precedence so
    * both engines pick identically. */
  val langId: QueryDef = {
    val markers = Seq(
      "en" -> Seq("the", "a", "of"),
      "de" -> Seq("der", "die", "und"),
      "fr" -> Seq("le", "la", "et"),
      "es" -> Seq("el", "los", "y"),
      "zh" -> Seq("de", "shi", "le"))
    val scoreSqls = markers.map { case (l, ws) =>
      s"len(list_filter(toks, x -> x IN (${ws.map(w => s"'$w'").mkString(",")}))) AS s_$l"
    }
    val caseSql = markers.map(_._1).init
      .foldRight(s"'${markers.last._1}'") { (l, rest) =>
        s"CASE WHEN s_$l >= ${markers.map(_._1).filter(_ != l).map(o => s"s_$o").mkString(" AND s_" + l + " >= ")} THEN '$l' ELSE $rest END"
      }
    QueryDef.sql(
      "ta_langid",
      s"""SELECT doc_id, lang AS lang_label, ${markers.map(m => s"s_${m._1}").mkString(", ")},
        |  $caseSql AS predicted
        |FROM (SELECT doc_id, lang, ${scoreSqls.mkString(", ")}
        |      FROM (SELECT doc_id, lang, string_split(text,' ') AS toks FROM documents) x) y
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("lang").as("lang_label"), toks.as("toks"))
        .select(
          (Seq(col("doc_id"), col("lang_label")) ++ markers.map { case (l, ws) =>
            size(filter(col("toks"), t => ws.map(t === _).reduce(_ || _)))
              .as(s"s_$l")
          }): _*)
      val predicted = markers.map(_._1).init
        .foldRight(lit(markers.last._1)) { (l, rest) =>
          val isMax = markers.map(_._1).filter(_ != l)
            .map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
          when(isMax, lit(l)).otherwise(rest)
        }
      scored
        .withColumn("predicted", predicted)
        .orderBy(col("doc_id"))
    }
  }

  /** Quality scoring: length/punctuation/stopword-ratio features fused
    * into one logistic score (all codegen'd scalar math). */
  val quality: QueryDef = QueryDef.sql(
    "ta_quality",
    """SELECT doc_id,
      |  n_tokens,
      |  round(stop_ratio, 6) AS stop_ratio,
      |  round(nonalpha_ratio, 6) AS nonalpha_ratio,
      |  round(mean_len, 6) AS mean_len,
      |  round(1.0/(1.0 + exp(-(0.3*mean_len + 2.0*stop_ratio
      |        - 5.0*nonalpha_ratio - 0.002*n_tokens))), 6) AS quality
      |FROM (
      |  SELECT doc_id,
      |    len(toks) AS n_tokens,
      |    len(list_filter(toks, x -> x IN ('the','a','of','and')))
      |      * 1.0 / len(toks) AS stop_ratio,
      |    length(regexp_replace(text, '[a-z ]', '', 'g'))
      |      * 1.0 / length(text) AS nonalpha_ratio,
      |    list_aggregate(list_transform(toks, x -> length(x)), 'sum')
      |      * 1.0 / len(toks) AS mean_len
      |  FROM (SELECT doc_id, text, string_split(text,' ') AS toks FROM documents) t) q
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val stopWords = Seq("the", "a", "of", "and")
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), toks.as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        (size(filter(col("toks"), t => stopWords.map(t === _).reduce(_ || _)))
          .cast("double") / size(col("toks"))).as("stop_ratio"),
        (length(regexp_replace(col("text"), "[a-z ]", "")).cast("double") /
          length(col("text"))).as("nonalpha_ratio"),
        (aggregate(transform(col("toks"), t => length(t)), lit(0), (a, x) => a + x)
          .cast("double") / size(col("toks"))).as("mean_len"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("stop_ratio"), 6).as("stop_ratio"),
        round(col("nonalpha_ratio"), 6).as("nonalpha_ratio"),
        round(col("mean_len"), 6).as("mean_len"),
        round(lit(1.0) / (lit(1.0) + exp(-(lit(0.3) * col("mean_len")
          + lit(2.0) * col("stop_ratio") - lit(5.0) * col("nonalpha_ratio")
          - lit(0.002) * col("n_tokens")))), 6).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Positional polynomial fingerprint (rolling-hash family) built from
    * arithmetic both engines share: tokval = 31·len(tok) + ascii(tok[0]);
    * fp1 = Σ tokval·pos, fp2 = Σ tokval² (mod 1000003). Identical docs ⇒
    * identical fingerprints; used downstream for exact-dup candidate
    * bucketing (Dedup module). */
  val fingerprint: QueryDef = QueryDef.sql(
    "ta_fingerprint",
    """SELECT doc_id,
      |  CAST(sum(tokval * pos) % 1000003 AS BIGINT) AS fp1,
      |  CAST(sum(tokval * tokval) % 1000003 AS BIGINT) AS fp2
      |FROM (
      |  SELECT doc_id,
      |    31 * length(tok) + ascii(tok) AS tokval,
      |    pos
      |  FROM (SELECT doc_id, unnest(toks) AS tok,
      |               generate_subscripts(toks, 1) AS pos
      |        FROM (SELECT doc_id, string_split(text,' ') AS toks
      |              FROM documents) a) b) c
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(toks).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"),
        (lit(31) * length(col("tok")) + ascii(col("tok"))).cast("long")
          .as("tokval"))
      .groupBy(col("doc_id"))
      .agg(
        (sum(col("tokval") * col("pos")) % 1000003L).as("fp1"),
        (sum(col("tokval") * col("tokval")) % 1000003L).as("fp2"))
      .orderBy(col("doc_id"))
  }

  /** Corpus TF-IDF: explode → token aggregate → idf-weighted rank.
    * Scale notes: one shuffle on token; the doc-count side is a broadcast
    * scalar. */
  val tfidf: QueryDef = QueryDef.sql(
    "ta_tfidf_top",
    """WITH toksr AS (
      |  SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
      |stats AS (
      |  SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df
      |  FROM toksr GROUP BY tok),
      |n AS (SELECT count(*) AS c FROM documents)
      |SELECT tok, tf, df,
      |  round(tf * ln((SELECT c FROM n) * 1.0 / df), 6) AS tfidf
      |FROM stats
      |ORDER BY tfidf DESC, tok
      |LIMIT 30""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val nDocs = docs.agg(count(lit(1)).as("c"))
    docs
      .select(col("doc_id"), explode(toks).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("tok"), col("tf"), col("df"),
        round(col("tf") * log(col("c").cast("double") / col("df")), 6)
          .as("tfidf"))
      .orderBy(col("tfidf").desc, col("tok"))
      .limit(30)
  }

  /** PII masking — training corpora must scrub contact strings before
    * the tokenizer sees them. The fixture has no natural emails, so
    * every 10th doc gets one planted (every 20th gets two) via string
    * arithmetic both engines reproduce; the masker then replaces every
    * match with a [EMAIL] placeholder and reports the per-doc hit count.
    * The pattern stays on regex features Java (Spark) and RE2 (DuckDB)
    * treat identically: literal char classes and + quantifiers, no
    * backrefs, no lookaround. Map-side only — no shuffle at all. */
  val piiMask: QueryDef = {
    val pat = "[a-z0-9._-]+@[a-z0-9-]+\\.[a-z]+"
    QueryDef.sql(
      "ta_pii_mask",
      s"""WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 20 = 0
        |           THEN text || ' contact user' || doc_id ||
        |                '@example.com today or admin' || doc_id || '@test.org'
        |         WHEN doc_id % 10 = 0
        |           THEN text || ' contact user' || doc_id || '@example.com today'
        |         ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '$pat')) AS n_pii,
        |  regexp_replace(text, '$pat', '[EMAIL]', 'g') AS masked
        |FROM corpus
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val corpus = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 20 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com today or admin"), col("doc_id"), lit("@test.org")))
          .when(col("doc_id") % 10 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@example.com today")))
          .otherwise(col("text")).as("text"))
      corpus.select(col("doc_id"),
          regexp_count(col("text"), lit(pat)).as("n_pii"),
          regexp_replace(col("text"), pat, "[EMAIL]").as("masked"))
        .orderBy(col("doc_id"))
    }
  }

  /** BPE merge-candidate counting — the inner loop of byte-pair-encoding
    * vocabulary training: count every adjacent CHARACTER pair inside
    * every token across the corpus and rank the top merge candidates.
    * One map-side explode (token → its length−1 overlapping 2-grams) and
    * one count shuffle — the shape that scales to a 100 TB corpus,
    * where each BPE training round is exactly this query over the
    * current vocabulary. Ties rank deterministically by the pair string;
    * top 30 with total corpus frequency. */
  val bpePairs: QueryDef = QueryDef.sql(
    "ta_bpe_pairs",
    """WITH pairs AS (
      |  SELECT substr(tok, i, 2) AS pair
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
      |  CROSS JOIN LATERAL unnest(generate_series(1, length(tok) - 1)) s(i)
      |  WHERE length(tok) >= 2),
      |counted AS (
      |  SELECT pair, count(*) AS n,
      |    row_number() OVER (ORDER BY count(*) DESC, pair) AS rank
      |  FROM pairs GROUP BY pair)
      |SELECT rank, pair, n FROM counted
      |WHERE rank <= 30
      |ORDER BY rank""".stripMargin) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("pair"))
    Tables.documents(s, d)
      .select(explode(toks).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("tok")) - 1),
        i => col("tok").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      // top-30 of a tiny aggregated set: the single-partition window
      // ranks ~|alphabet|² rows, not the corpus
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 30)
      .select(col("rank"), col("pair"), col("n"))
      .orderBy(col("rank"))
  }

  /** BPE MERGE STEP — the second half of tokenizer training, applied
    * once: [[bpePairs]] finds the most frequent adjacent character
    * pair; this op APPLIES that top merge to the whole corpus and
    * reports each document's merge count and post-merge symbol count —
    * the distributed inner loop of BPE training (count pairs → pick
    * top → merge → recount), here one full turn of it. The pair is
    * picked deterministically (count desc, pair asc — [[bpePairs]]'s
    * rank-1 row), broadcast to the corpus as a one-row cross join, and
    * each token merges leftmost-non-overlapping occurrences — both
    * engines' `replace` shares that exact semantics, so overlapping
    * runs ("aaa" under pair "aa") merge identically. The count is
    * `(len − len(replace(tok, pair, ''))) / 2` — pure integer
    * arithmetic, no FP. 100 TB shape: the pair table aggregates to
    * ~|alphabet|² rows, the top-1 broadcasts, and the merge pass is
    * map-side over the corpus — per full BPE round, one tiny shuffle
    * plus one linear scan, repeated per merge in the vocab loop. */
  val bpeMerge: QueryDef = QueryDef.sql(
    "ta_bpe_merge",
    """WITH pairs AS (
      |  SELECT substr(tok, i, 2) AS pair
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
      |  CROSS JOIN LATERAL unnest(generate_series(1, length(tok) - 1)) s(i)
      |  WHERE length(tok) >= 2),
      |top AS (
      |  SELECT pair FROM pairs GROUP BY pair
      |  ORDER BY count(*) DESC, pair LIMIT 1)
      |SELECT doc_id,
      |  CAST(list_aggregate(list_transform(toks,
      |    x -> (length(x) - length(replace(x, pair, ''))) // 2), 'sum')
      |    AS BIGINT) AS n_merges,
      |  CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
      |    - list_aggregate(list_transform(toks,
      |        x -> (length(x) - length(replace(x, pair, ''))) // 2), 'sum')
      |    AS BIGINT) AS n_symbols
      |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d
      |CROSS JOIN top
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val top = Tables.documents(s, d)
      .select(explode(toks).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("tok")) - 1),
        i => col("tok").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(1)
      .select(col("pair"))
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .crossJoin(broadcast(top))
      .withColumn("n_merges", expr(
        "aggregate(transform(toks, x -> (length(x) - " +
          "length(replace(x, pair, ''))) div 2), 0L, (a, x) -> a + x)"))
      .withColumn("n_symbols", expr(
        "aggregate(transform(toks, x -> length(x)), 0L, (a, x) -> a + x)")
        - col("n_merges"))
      .select(col("doc_id"), col("n_merges"), col("n_symbols"))
      .orderBy(col("doc_id"))
  }

  /** Document chunking — splitting long documents into overlapping
    * fixed-size token windows (stride < width ⇒ overlap) is how training
    * corpora are fed to a context-bounded model. One map-side explode of
    * the stride grid + an array slice per chunk; no shuffle at all.
    * chunk_len and the chunk's character sum pin the exact slice
    * boundaries cross-engine. */
  val chunking: QueryDef = {
    val width = 32
    val stride = 24
    QueryDef.sql(
      "ta_chunking",
      s"""SELECT doc_id,
        |  (s - 1) // $stride AS chunk_idx,
        |  CAST(s AS BIGINT) AS start_pos,
        |  CAST(len(chunk) AS BIGINT) AS chunk_len,
        |  CAST(list_aggregate(list_transform(chunk, x -> length(x)), 'sum')
        |    AS BIGINT) AS char_sum
        |FROM (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks), $stride)) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) a) b
        |CROSS JOIN LATERAL (SELECT list_slice(toks, s, least(s + ${width - 1}, len(toks))) AS chunk) c
        |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), size(col("toks")), lit(stride))).as("s"))
        .select(col("doc_id"),
          expr(s"(s - 1) DIV $stride").as("chunk_idx"),
          col("s").cast("long").as("start_pos"),
          slice(col("toks"), col("s"), lit(width)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"), col("start_pos"),
          size(col("chunk")).cast("long").as("chunk_len"),
          aggregate(transform(col("chunk"), t => length(t)), lit(0L),
            (a, x) => a + x).as("char_sum"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }
  }

  /** Sequence packing — greedy binning of documents into
    * context-window-sized packs. Packing is inherently sequential, so
    * the scale-correct shape shards first (here: by language) and packs
    * within each shard independently — the window partitions by shard
    * and each runs in parallel; pack boundaries are a running token sum
    * bucketed by the context size. Output: per-pack doc count and token
    * total (exact integers). */
  val packing: QueryDef = {
    val ctx = 2048
    QueryDef.sql(
      "ta_packing",
      s"""WITH sized AS (
        |  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |packed AS (
        |  SELECT lang, doc_id, n_tokens,
        |    CAST((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |           ROWS UNBOUNDED PRECEDING) - n_tokens) // $ctx
        |      AS BIGINT) AS pack_id
        |  FROM sized)
        |SELECT lang, pack_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM packed
        |GROUP BY lang, pack_id
        |ORDER BY lang, pack_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"), size(toks).as("n_tokens"))
        .withColumn("pack_id",
          expr(s"(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id " +
            s"ROWS UNBOUNDED PRECEDING) - n_tokens) DIV $ctx"))
        .groupBy(col("lang"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("lang"), col("pack_id"))
    }
  }

  /** Repetition-based quality filters (the Gopher/MassiveText family):
    * duplicate-token fraction, most-frequent-bigram and -trigram mass,
    * and duplicated-trigram mass, plus a composite pass/fail gate.
    * Repetitious text is the strongest single signal of low-quality /
    * machine-generated content in web corpora, and these filters are
    * pure counting — exact integers end to end. The GATE compares
    * cross-multiplied integers (`max_bi * 5 <= n_bi`, never
    * `max_bi/n_bi <= 0.2`), so membership can never flip at a FP ulp;
    * the reported fractions are informational round-6 doubles. Scale
    * shape: one explode + two-level aggregation per n-gram order —
    * everything partitions by doc_id, no cross-doc state at all.
    * (Fixture corpus guarantees >= 10 tokens/doc, so every doc has
    * bigrams and trigrams and the joins below are total.) */
  val repetition: QueryDef = QueryDef.sql(
    "ta_repetition",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |base AS (
      |  SELECT doc_id, len(toks) AS n_tokens,
      |    len(list_distinct(toks)) AS n_distinct
      |  FROM t),
      |bic AS (
      |  SELECT doc_id, g, count(*) AS c
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(generate_series(1, len(toks) - 1),
      |                 i -> toks[i] || ' ' || toks[i + 1])) AS g
      |        FROM t) b
      |  GROUP BY doc_id, g),
      |bimax AS (
      |  SELECT doc_id, max(c) AS max_bi, CAST(sum(c) AS BIGINT) AS n_bi
      |  FROM bic GROUP BY doc_id),
      |tric AS (
      |  SELECT doc_id, g, count(*) AS c
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(generate_series(1, len(toks) - 2),
      |                 i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g
      |        FROM t) b
      |  GROUP BY doc_id, g),
      |trimax AS (
      |  SELECT doc_id, max(c) AS max_tri, CAST(sum(c) AS BIGINT) AS n_tri,
      |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_tri
      |  FROM tric GROUP BY doc_id)
      |SELECT b.doc_id, b.n_tokens,
      |  round((b.n_tokens - b.n_distinct) * 1.0 / b.n_tokens, 6)
      |    AS dup_token_frac,
      |  round(m.max_bi * 1.0 / m.n_bi, 6) AS top_bigram_frac,
      |  round(tm.max_tri * 1.0 / tm.n_tri, 6) AS top_trigram_frac,
      |  round(tm.dup_tri * 1.0 / tm.n_tri, 6) AS dup_trigram_frac,
      |  ((b.n_tokens - b.n_distinct) * 20 <= 11 * b.n_tokens
      |    AND m.max_bi * 10 <= m.n_bi
      |    AND tm.dup_tri * 20 <= tm.n_tri) AS gopher_pass
      |FROM base b
      |JOIN bimax m ON m.doc_id = b.doc_id
      |JOIN trimax tm ON tm.doc_id = b.doc_id
      |ORDER BY b.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    // r17 (guide §2.4): every statistic here is PER-DOC, so nothing has
    // to cross an exchange — the old plan exploded bigrams AND trigrams
    // through two (doc, gram) hash aggregations + two per-doc rollups +
    // two joins (4 exchanges, gram rows amplified n_tokens×). Map-side
    // instead: build each gram array, sort it, and fold run-lengths
    // with one `aggregate` HOF per order — max run = top-gram count,
    // runs > 1 accumulate the duplicate mass. Values are the same
    // integers the hash aggregation counted; only the plan changed.
    // The ONE remaining exchange below carries the compact doc rows
    // (not exploded grams): a purely map-side fold would inherit the
    // scan's partitioning — a single-row-group fixture file is ONE
    // task, serializing the fold (measured: cpu −35%, wall +60% at
    // sf0.1). The width must be EXPLICIT: a width-less repartition(col)
    // is AQE-coalescible, and these doc rows are small enough that AQE
    // folds them back to one partition — re-serializing the fold it
    // exists to spread (measured: wall +75% vs the explicit width).
    // defaultParallelism follows the session's core count, so the
    // spread stays scale-adaptive, never a local constant.
    // The per-doc statistics run through the native `gram_run_stats`
    // expression (one compiled hash-map pass per row): the first r17
    // form of this rewrite folded `aggregate(array_sort(transform(…)))`,
    // but higher-order functions are CodegenFallback — interpreted per
    // ELEMENT — and the fold measured 3.3× the task-CPU of the hash
    // aggregation it replaced. The native pass keeps the shuffle win
    // (zero gram rows cross an exchange) without the interpretation tax.
    val t = docs.repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), toks.as("toks"))
    t.select(col("doc_id"), size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        expr("gram_run_stats(toks, 2)").as("r2"),
        expr("gram_run_stats(toks, 3)").as("r3"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("r2.best").as("max_bi"), col("r2.total").as("n_bi"),
        col("r3.best").as("max_tri"), col("r3.total").as("n_tri"),
        col("r3.dup").as("dup_tri"))
      .select(col("doc_id"), col("n_tokens"),
        round((col("n_tokens") - col("n_distinct")).cast("double")
          / col("n_tokens"), 6).as("dup_token_frac"),
        round(col("max_bi").cast("double") / col("n_bi"), 6)
          .as("top_bigram_frac"),
        round(col("max_tri").cast("double") / col("n_tri"), 6)
          .as("top_trigram_frac"),
        round(col("dup_tri").cast("double") / col("n_tri"), 6)
          .as("dup_trigram_frac"),
        ((col("n_tokens") - col("n_distinct")) * 20 <= col("n_tokens") * 11 &&
          col("max_bi") * 10 <= col("n_bi") &&
          col("dup_tri") * 20 <= col("n_tri")).as("gopher_pass"))
      .orderBy(col("doc_id"))
  }

  /** Count-Min-Sketch frequency estimation over the whole token stream
    * (one pass, 8 KiB more state than a count — see
    * [[graft.functions.CountMinSketchAgg]]). The query builds the
    * sketch with the custom TypedImperativeAggregate, probes six tokens
    * (five present, one absent), and reports the estimate next to the
    * exact count. The oracle reproduces the sketch cells arithmetically:
    * an estimate is `min_i |{tok : bucket_i(tok) = bucket_i(probe)}|`,
    * a LEFT JOIN + count per (probe, hash-row). Overestimate-only is
    * asserted in the suite (`est >= exact` always, by construction). */
  val cmsHeavy: QueryDef = {
    import graft.functions.CountMinSketchAgg.{A, B, D, P, W}
    val probes = Seq("the", "a", "table", "spark", "value", "zzqx")
    val probesSql = probes.map(p => s"'$p'").mkString("[", ", ", "]")
    val hashRowsSql = (0 until D)
      .map(i => s"($i, ${A(i)}, ${B(i)})").mkString(", ")
    QueryDef.sql(
      "ta_cms_heavy",
      s"""WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |th AS (
        |  SELECT list_reduce(
        |    [CAST(0 AS BIGINT)] ||
        |    list_transform(generate_series(1, length(tok)),
        |                   i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT)),
        |    (h, c) -> (h * 131 + c) % $P) AS tid
        |  FROM toks),
        |ph AS (
        |  SELECT probe, list_reduce(
        |    [CAST(0 AS BIGINT)] ||
        |    list_transform(generate_series(1, length(probe)),
        |                   i -> CAST(ascii(substr(probe, i, 1)) AS BIGINT)),
        |    (h, c) -> (h * 131 + c) % $P) AS pid
        |  FROM (SELECT unnest($probesSql) AS probe) p),
        |rows_ AS (SELECT i, a, b FROM (VALUES $hashRowsSql) t(i, a, b)),
        |cells AS (
        |  SELECT p.probe, r.i, r.a, r.b,
        |    ((p.pid * r.a + r.b) % $P) % $W AS pb
        |  FROM ph p CROSS JOIN rows_ r),
        |cnt AS (
        |  SELECT c.probe, c.i, count(t.tid) AS n
        |  FROM cells c
        |  LEFT JOIN th t ON ((t.tid * c.a + c.b) % $P) % $W = c.pb
        |  GROUP BY c.probe, c.i),
        |est AS (SELECT probe, CAST(min(n) AS BIGINT) AS est
        |        FROM cnt GROUP BY probe),
        |exact AS (
        |  SELECT p.probe, CAST(count(t.tid) AS BIGINT) AS exact
        |  FROM ph p LEFT JOIN th t ON t.tid = p.pid
        |  GROUP BY p.probe)
        |SELECT e.probe, e.est, x.exact
        |FROM est e JOIN exact x ON x.probe = e.probe
        |ORDER BY e.probe""".stripMargin) { (s, d) =>
      import s.implicits._
      val tids = Tables.documents(s, d)
        .select(explode(toks).as("tok"))
        .select(Dedup.tokHash(col("tok")).as("tid"))
      val sketch = tids.agg(call_function("cms_sketch", col("tid")).as("sk"))
      val ph = probes.toDF("probe")
        .select(col("probe"), Dedup.tokHash(col("probe")).as("pid"))
      val est = ph.crossJoin(broadcast(sketch))
        .select(col("probe"), col("pid"),
          least((0 until D).map { i =>
            element_at(col("sk"),
              (((col("pid") * A(i) + B(i)) % P) % W).cast("int") + i * W + 1)
          }: _*).as("est"))
      val exact = ph.join(
          tids.groupBy(col("tid")).agg(count(lit(1)).as("c")),
          col("pid") === col("tid"), "left_outer")
        .select(col("probe").as("xprobe"), coalesce(col("c"), lit(0L)).as("exact"))
      est.join(exact, col("probe") === col("xprobe"))
        .select(col("probe"), col("est"), col("exact"))
        .orderBy(col("probe"))
    }
  }

  /** TEXT NORMALIZATION — the first stage of every real corpus pipeline:
    * case-fold, strip punctuation/symbols, collapse whitespace, trim.
    * The fixture corpus is already clean lowercase ASCII, so the query
    * derives a MESSY corpus first (upper-case every 3rd doc, swap spaces
    * for " , " on every 4th, wrap all in pad/bang noise) using string
    * primitives both engines share — then normalizes it back. Round-trip
    * equality against the pristine text makes the operator
    * self-validating: `is_roundtrip` must be 1 for every row.
    *
    * Determinism notes (the regex-dialect hazard from ADVICE r1): only
    * explicit ASCII character classes (`[^a-z0-9 ]`, ` +`) — identical
    * under Java regex and DuckDB's RE2 — and `lower`/`upper` on pure
    * ASCII where the engines agree by definition. DuckDB's
    * `regexp_replace` is first-match-only by default, hence the 'g'
    * flag on the oracle side; Spark's is always global. NFC is a no-op
    * on ASCII and documented as out of fixture scope. */
  val normalize: QueryDef = QueryDef.sql(
    "ta_normalize",
    """WITH messy AS (
      |  SELECT doc_id,
      |    '  !' ||
      |    (CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END) ||
      |    '!!  ' AS raw
      |  FROM (
      |    SELECT doc_id,
      |      CASE WHEN doc_id % 4 = 0 THEN replace(text, ' ', ' , ')
      |           ELSE text END AS text
      |    FROM documents) a),
      |norm AS (
      |  SELECT doc_id, raw,
      |    trim(regexp_replace(
      |      regexp_replace(lower(raw), '[^a-z0-9 ]', ' ', 'g'),
      |      ' +', ' ', 'g')) AS normalized
      |  FROM messy)
      |SELECT n.doc_id, length(n.raw) AS raw_len,
      |  length(n.normalized) AS norm_len, n.normalized,
      |  CASE WHEN n.normalized = d.text THEN 1 ELSE 0 END AS is_roundtrip
      |FROM norm n JOIN documents d ON d.doc_id = n.doc_id
      |ORDER BY n.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val messy = docs.select(col("doc_id"), col("text"),
        when(col("doc_id") % 4 === 0,
          regexp_replace(col("text"), " ", " , "))
          .otherwise(col("text")).as("t1"))
      .select(col("doc_id"), col("text"),
        concat(lit("  !"),
          when(col("doc_id") % 3 === 0, upper(col("t1"))).otherwise(col("t1")),
          lit("!!  ")).as("raw"))
    messy
      .withColumn("normalized",
        trim(regexp_replace(
          regexp_replace(lower(col("raw")), "[^a-z0-9 ]", " "),
          " +", " ")))
      .select(col("doc_id"), length(col("raw")).as("raw_len"),
        length(col("normalized")).as("norm_len"), col("normalized"),
        when(col("normalized") === col("text"), 1).otherwise(0)
          .as("is_roundtrip"))
      .orderBy(col("doc_id"))
  }

  /** BIGRAM LANGUAGE-MODEL QUALITY SCORE — the CCNet-style perplexity
    * filter: train a bigram LM on the corpus itself (MLE, no smoothing —
    * every scored bigram exists in the counts by construction) and score
    * each document by its mean log-probability. Low mean_lp = the doc's
    * token transitions are atypical for the corpus = the standard
    * "perplexity bucket" signal for quality partitioning (perplexity is
    * exp(−mean_lp), monotone, so the score itself suffices). min_lp is
    * the single most surprising transition in the doc.
    *
    * Cross-engine determinism: counts are exact integers; each bigram's
    * log-prob is quantized to 1e-9 BEFORE the per-doc sum (the BM25 idf
    * rule), the reported mean to 1e-6; min over quantized values is
    * order-independent and exact.
    *
    * 100 TB shape: the LM is two count aggregations (the unigram table
    * derives from the bigram table — one pass over the exploded corpus,
    * not two); the scoring join keys on the bigram, with the count
    * tables vocabulary-bounded (≪ corpus, broadcast when small, AQE
    * otherwise); the final reduction partitions by doc_id. Nothing is
    * quadratic and no per-doc state leaves its partition group. */
  val lmScore: QueryDef = QueryDef.sql(
    "ta_lm_score",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |big AS (
      |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      |  FROM t CROSS JOIN LATERAL unnest(generate_series(1, len(toks) - 1)) s(i)),
      |bic AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2),
      |uni AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu FROM bic GROUP BY w1),
      |scored AS (
      |  SELECT g.doc_id, round(ln(c.cb * 1.0 / u.cu), 9) AS lp
      |  FROM big g
      |  JOIN bic c ON c.w1 = g.w1 AND c.w2 = g.w2
      |  JOIN uni u ON u.w1 = g.w1)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  round(sum(lp) / count(*), 6) AS mean_lp,
      |  min(lp) AS min_lp
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d).select(col("doc_id"), toks.as("toks"))
    val big = t
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("toks")) - 1)).as("i"), col("toks"))
      .select(col("doc_id"), element_at(col("toks"), col("i")).as("w1"),
        element_at(col("toks"), col("i") + 1).as("w2"))
    val bic = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val uni = bic.groupBy(col("w1")).agg(sum(col("cb")).as("cu"))
    big.join(bic, Seq("w1", "w2")).join(uni, Seq("w1"))
      .select(col("doc_id"),
        round(log(col("cb").cast("double") / col("cu")), 9).as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp")) / count(lit(1)), 6).as("mean_lp"),
        min(col("lp")).as("min_lp"))
      .orderBy(col("doc_id"))
  }

  /** HYPERLOGLOG distinct counting — per-language distinct-bigram
    * cardinality via the engine's [[graft.functions.HyperLogLogAgg]]
    * `TypedImperativeAggregate` (the sketch family's distinct-count
    * member next to `cms_sketch`): 64 bytes of register state per group
    * versus count(DISTINCT)'s full key shuffle — the only way a 100 TB
    * vocabulary/n-gram census fits one pass. The exact count runs
    * alongside for the error check (HLL error ≈ 1.04/√64 ≈ 13 %;
    * suite asserts the bound, the oracle pins the registers).
    *
    * Determinism: register updates are max(ρ) — commutative,
    * associative, idempotent — so the register array is identical under
    * any partitioning or engine; the oracle reproduces every register
    * arithmetically from the shared rolling-hash/affine-mix maps. The
    * estimate is one division over a sum of 64 exact powers of two
    * (dyadic ⇒ order-independent, bit-exact), rounded 1e-6. */
  val hllDistinct: QueryDef = {
    import graft.functions.HyperLogLogAgg.{M, MixA, MixA2, MixB, MixB2, MixP, RhoCap}
    val P = 1000000007L
    QueryDef.sql(
      "ta_hll_distinct",
      s"""WITH t AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
        |tid AS (
        |  SELECT lang, list_transform(toks, tok -> list_reduce(
        |    [CAST(0 AS BIGINT)] ||
        |    list_transform(generate_series(1, length(tok)),
        |                   j -> CAST(ascii(substr(tok, j, 1)) AS BIGINT)),
        |    (h, c) -> (h * 131 + c) % $P)) AS tids
        |  FROM t),
        |big AS (
        |  SELECT lang, unnest(list_transform(generate_series(1, len(tids) - 1),
        |    i -> (tids[i] * 1009 + tids[i + 1]) % $P)) AS bid
        |  FROM tid),
        |h1 AS (SELECT lang, (bid * $MixA + $MixB) % $MixP AS h FROM big),
        |h2 AS (SELECT lang, (xor(h, h >> 7) * $MixA2 + $MixB2) % $MixP AS h FROM h1),
        |hh AS (SELECT lang, xor(h, h >> 11) AS h FROM h2),
        |reg0 AS (
        |  SELECT lang, h % $M AS bucket,
        |    max(CASE WHEN h // $M = 0 THEN $RhoCap
        |        ELSE list_min(list_filter(generate_series(0, ${RhoCap - 1}),
        |               i -> ((h // $M) >> i) & 1 = 1)) + 1 END) AS reg
        |  FROM hh GROUP BY lang, h % $M),
        |regs AS (
        |  SELECT l.lang, b.bucket, coalesce(r.reg, 0) AS reg
        |  FROM (SELECT DISTINCT lang FROM documents) l
        |  CROSS JOIN (SELECT unnest(generate_series(0, ${M - 1})) AS bucket) b
        |  LEFT JOIN reg0 r ON r.lang = l.lang AND r.bucket = b.bucket),
        |agg AS (
        |  SELECT lang,
        |    CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |    CAST(sum(reg * (bucket + 1)) AS BIGINT) AS reg_checksum,
        |    sum(power(2.0, -reg)) AS s
        |  FROM regs GROUP BY lang),
        |exact AS (SELECT lang, count(DISTINCT bid) AS n_exact FROM big GROUP BY lang)
        |SELECT a.lang, x.n_exact, a.n_zero, a.reg_checksum,
        |  round(CASE WHEN 0.709 * ${M * M} / a.s <= ${5 * M / 2} AND a.n_zero > 0
        |        THEN $M * ln($M * 1.0 / a.n_zero)
        |        ELSE 0.709 * ${M * M} / a.s END, 6) AS est
        |FROM agg a JOIN exact x ON x.lang = a.lang
        |ORDER BY a.lang""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d).select(col("lang"), toks.as("toks"))
      val big = t
        .select(col("lang"),
          transform(col("toks"), tok => Dedup.tokHash(tok)).as("tids"))
        .select(col("lang"),
          explode(transform(sequence(lit(1), size(col("tids")) - 1),
            i => (element_at(col("tids"), i) * 1009L +
              element_at(col("tids"), i + 1)) % P)).as("bid"))
      val sk = big.groupBy(col("lang"))
        .agg(call_function("hll_sketch", col("bid")).as("regs"))
        .select(col("lang"),
          size(filter(col("regs"), r => r === 0L)).cast("long").as("n_zero"),
          aggregate(zip_with(col("regs"), sequence(lit(1L), lit(M.toLong)),
            (r, i) => r * i), lit(0L), (a, x) => a + x).as("reg_checksum"),
          aggregate(col("regs"), lit(0.0),
            (a, r) => a + pow(lit(2.0), -r.cast("double"))).as("s"))
      val raw = lit(0.709) * lit((M * M).toDouble) / col("s")
      val exact = big.groupBy(col("lang").as("xlang"))
        .agg(countDistinct(col("bid")).as("n_exact"))
      sk.join(exact, col("lang") === col("xlang"))
        .select(col("lang"), col("n_exact"), col("n_zero"), col("reg_checksum"),
          round(when(raw <= (5 * M / 2).toDouble && col("n_zero") > 0,
            lit(M.toDouble) * log(lit(M.toDouble) / col("n_zero")))
            .otherwise(raw), 6).as("est"))
        .orderBy(col("lang"))
    }
  }

  /** QUALITY-DECILE BUCKETING — curriculum/filtering prep: rank every
    * document within its language stratum by the [[quality]] logistic
    * score and cut into 10 equal-frequency buckets (the "perplexity
    * bucket" construction used for quality-mixed training data, here on
    * the engine's own quality score). Bucket counts + min/max per bucket
    * pin the exact membership cross-engine.
    *
    * Determinism: the score is quantized to 1e-9 before ranking and
    * ties break on doc_id, so bucket boundaries cannot flip on a ulp
    * (the IVF rank rule). Scale shape: ntile partitions BY STRATUM —
    * each window sorts one stratum, parallel across strata; production
    * strata are (lang × source-shard) so no partition outgrows memory,
    * and the output aggregate is one stratum-keyed reduction. */
  val qualityBuckets: QueryDef = QueryDef.sql(
    "ta_quality_buckets",
    """WITH q AS (
      |  SELECT doc_id, lang,
      |    round(1.0/(1.0 + exp(-(0.3*mean_len + 2.0*stop_ratio
      |          - 5.0*nonalpha_ratio - 0.002*n_tokens))), 9) AS quality
      |  FROM (
      |    SELECT doc_id, lang,
      |      len(toks) AS n_tokens,
      |      len(list_filter(toks, x -> x IN ('the','a','of','and')))
      |        * 1.0 / len(toks) AS stop_ratio,
      |      length(regexp_replace(text, '[a-z ]', '', 'g'))
      |        * 1.0 / length(text) AS nonalpha_ratio,
      |      list_aggregate(list_transform(toks, x -> length(x)), 'sum')
      |        * 1.0 / len(toks) AS mean_len
      |    FROM (SELECT doc_id, lang, text, string_split(text,' ') AS toks
      |          FROM documents) t) x),
      |b AS (
      |  SELECT lang, doc_id, quality,
      |    ntile(10) OVER (PARTITION BY lang ORDER BY quality, doc_id) AS bucket
      |  FROM q)
      |SELECT lang, bucket, count(*) AS n_docs,
      |  round(min(quality), 6) AS min_q, round(max(quality), 6) AS max_q
      |FROM b GROUP BY lang, bucket
      |ORDER BY lang, bucket""".stripMargin) { (s, d) =>
    val stopWords = Seq("the", "a", "of", "and")
    val q = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"), toks.as("toks"))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).as("n_tokens"),
        (size(filter(col("toks"), t => stopWords.map(t === _).reduce(_ || _)))
          .cast("double") / size(col("toks"))).as("stop_ratio"),
        (length(regexp_replace(col("text"), "[a-z ]", "")).cast("double") /
          length(col("text"))).as("nonalpha_ratio"),
        (aggregate(transform(col("toks"), t => length(t)), lit(0), (a, x) => a + x)
          .cast("double") / size(col("toks"))).as("mean_len"))
      .select(col("doc_id"), col("lang"),
        round(lit(1.0) / (lit(1.0) + exp(-(lit(0.3) * col("mean_len")
          + lit(2.0) * col("stop_ratio") - lit(5.0) * col("nonalpha_ratio")
          - lit(0.002) * col("n_tokens")))), 9).as("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("quality"), col("doc_id"))
    q.withColumn("bucket", ntile(10).over(w))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(min(col("quality")), 6).as("min_q"),
        round(max(col("quality")), 6).as("max_q"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** FASTTEXT-STYLE HASHED LINEAR CLASSIFIER scoring — the shape of
    * every production corpus filter in the CCNet / GPT-3-WebText /
    * DCLM family: features are the doc's unigram + consecutive-bigram
    * token hashes folded into a fixed bucket table, each class scores
    * the mean of its bucket weights, and the argmax class labels the
    * doc. The weight table here is ARITHMETIC-DERIVED (a Knuth-mix of
    * the bucket id per class) so the DuckDB oracle reproduces it
    * exactly — a real deployment broadcasts its trained table and the
    * plan does not change shape, because the table IS a fixed array:
    * 4 classes × 4096 buckets of int64.
    *
    * 100 TB shape: the entire feature → bucket → weight-sum path is
    * array expressions inside fused map-side projections — no explode,
    * no window, no join, zero shuffle before the final ORDER BY (which
    * a production filter drops): the classifier streams over the
    * corpus at scan speed (plan-audited: the only exchange is the
    * presentation sort). Scores stay integer until one final division
    * (summation-order-free, so engines can't drift) and the argmax
    * compares the exact integer sums, never rounded floats. */
  val domainClassify: QueryDef = {
    val classes = Seq("web", "news", "code", "academic")
    val NB = 4096L
    val M = 999983L // prime modulus of the weight mix
    val Half = 499991L // (M-1)/2 — centers weights on zero
    val classSumsSql = classes.zipWithIndex.map { case (_, c) =>
      s"""list_reduce(list_transform(bs,
         |      x -> ((x + ${c * 7919}) * 2654435761) % $M - $Half),
         |    (a, b) -> a + b) AS w$c""".stripMargin
    }.mkString(",\n  ")
    val argmaxSql = classes.init.zipWithIndex
      .foldRight(s"'${classes.last}'") { case ((name, c), rest) =>
        val ge = classes.indices.filter(_ != c).map(o => s"w$c >= w$o")
          .mkString(" AND ")
        s"CASE WHEN $ge THEN '$name' ELSE $rest END"
      }
    QueryDef.sql(
      "ta_domain_classify",
      s"""WITH tk AS (
        |  SELECT doc_id,
        |    list_transform(string_split(text, ' '),
        |      t -> list_reduce(
        |        [CAST(0 AS BIGINT)] ||
        |        list_transform(generate_series(1, length(t)),
        |                       i -> CAST(ascii(substr(t, i, 1)) AS BIGINT)),
        |        (h, c) -> (h * 131 + c) % 1000000007)) AS tids
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id,
        |    tids || CASE WHEN len(tids) >= 2
        |      THEN list_transform(generate_series(1, len(tids) - 1),
        |                          i -> (tids[i] * 1009 + tids[i + 1]) % 1000000007)
        |      ELSE CAST([] AS BIGINT[]) END AS fs
        |  FROM tk),
        |s AS (
        |  SELECT doc_id, len(bs) AS n_features,
        |  $classSumsSql
        |  FROM (SELECT doc_id, list_transform(fs, x -> x % $NB) AS bs FROM feat) z)
        |SELECT doc_id, n_features,
        |  ${classes.zipWithIndex.map { case (n, c) =>
             s"round(w$c / (n_features * $Half.0), 6) AS s_$n" }.mkString(",\n  ")},
        |  $argmaxSql AS predicted
        |FROM s
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tids = transform(toks, t => Dedup.tokHash(t))
      val bigrams = when(size(col("tids")) >= 2,
          transform(sequence(lit(1), size(col("tids")) - 1),
            i => (element_at(col("tids"), i) * 1009
              + element_at(col("tids"), i + 1)) % 1000000007L))
        .otherwise(array().cast("array<bigint>"))
      def wSum(c: Int): Column = aggregate(col("bs"), lit(0L),
        (acc, x) => acc + ((x + lit(c * 7919L)) * 2654435761L) % M - Half)
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), tids.as("tids"))
        .withColumn("fs", concat(col("tids"), bigrams))
        .select(col("doc_id"),
          transform(col("fs"), x => pmod(x, lit(NB))).as("bs"))
        .select(Seq(col("doc_id"), size(col("bs")).as("n_features")) ++
          classes.indices.map(c => wSum(c).as(s"w$c")): _*)
      // argmax on the EXACT integer sums (ties to the earlier class),
      // matching the oracle's CASE chain
      val predicted = classes.init.zipWithIndex
        .foldRight(lit(classes.last): Column) { case ((name, c), rest) =>
          val isMax = classes.indices.filter(_ != c)
            .map(o => col(s"w$c") >= col(s"w$o")).reduce(_ && _)
          when(isMax, lit(name)).otherwise(rest)
        }
      scored.select(
        Seq(col("doc_id"), col("n_features")) ++
          classes.zipWithIndex.map { case (n, c) =>
            round(col(s"w$c") / (col("n_features") * lit(Half.toDouble)), 6)
              .as(s"s_$n") } :+ predicted.as("predicted"): _*)
        .orderBy(col("doc_id"))
    }
  }

  /** FUZZY STRING MATCH JOIN — catalog/entity harmonization: find every
    * pair of distinct names within edit distance 2 (typos, dropped
    * characters, near-variants) without the O(n²) all-pairs scan. The
    * classic two-stage shape: a 3-gram inverted index proposes
    * candidates (pairs sharing ≥ 1 under-cap gram — the
    * [[graft.ops.Dedup]] DfCap convention bounds every posting list's
    * fanout), then exact `levenshtein` — integer DP, bit-identical in
    * both engines — verifies each candidate. Correctness never depends
    * on the filter (verify is exact); the filter only bounds work.
    * Planted third-character-dropped variants land at ed 1; the
    * fixture's own catalog contributes natural matches ("blue ring" /
    * "blue rod" at ed 2). Distinct-name entities first (the fixture
    * repeats each name hundreds of times — entity-level matching is
    * also what a real catalog pass does), keyed by min part key.
    *
    * 100 TB shape: entity dedup is one groupBy; the gram index is
    * linear with df-capped fanout; verify runs once per candidate
    * pair. Nothing is quadratic in the catalog. */
  val fuzzyMatch: QueryDef = QueryDef.sql(
    "ta_fuzzy_match",
    """WITH ents0 AS (
      |  SELECT p_name AS nm, CAST(min(p_partkey) AS BIGINT) AS id
      |  FROM part GROUP BY p_name),
      |ents AS (
      |  SELECT id, nm FROM ents0
      |  UNION ALL
      |  SELECT id + 100000 AS id, substr(nm, 1, 2) || substr(nm, 4) AS nm
      |  FROM ents0 WHERE id % 5 = 0),
      |g AS (
      |  SELECT DISTINCT id, substr(nm, u.i, 3) AS g3
      |  FROM ents CROSS JOIN LATERAL
      |    unnest(generate_series(1, len(nm) - 2)) u(i)),
      |gc AS (
      |  SELECT id, g3 FROM g
      |  WHERE g3 IN (SELECT g3 FROM g GROUP BY g3 HAVING count(*) <= 40)),
      |cand AS (
      |  SELECT DISTINCT a.id AS id1, b.id AS id2
      |  FROM gc a JOIN gc b ON b.g3 = a.g3 AND a.id < b.id)
      |SELECT c.id1, c.id2, e1.nm AS name1, e2.nm AS name2,
      |  CAST(levenshtein(e1.nm, e2.nm) AS BIGINT) AS ed
      |FROM cand c
      |JOIN ents e1 ON e1.id = c.id1
      |JOIN ents e2 ON e2.id = c.id2
      |WHERE levenshtein(e1.nm, e2.nm) <= 2
      |ORDER BY id1, id2""".stripMargin) { (s, d) =>
    val ents0 = Tables.part(s, d)
      .groupBy(col("p_name").as("nm"))
      .agg(min(col("p_partkey")).cast("long").as("id"))
    // pinned eagerly (r16 verdict #1): both self-join sides consume it
    val ents = graft.InternalCaches.pinEager(ents0.select(col("id"), col("nm"))
      .unionAll(ents0.filter(col("id") % 5 === 0)
        .select((col("id") + 100000).as("id"),
          concat(expr("substring(nm, 1, 2)"), expr("substring(nm, 4, 1000)"))
            .as("nm"))))
    // names shorter than 3 chars yield NO grams: Spark's sequence
    // counts DOWN when start > stop (sequence(1,0) = [1,0] — the same
    // hazard the bpeTrain pass guards), while DuckDB's
    // generate_series(1, len-2) is empty — so the guard, not the
    // sequence, must decide (r8, advice)
    val g = ents.select(col("id"),
        explode(when(length(col("nm")) >= 3,
          transform(sequence(lit(1), length(col("nm")) - 2),
            i => col("nm").substr(i, lit(3))))
          .otherwise(array())).as("g3"))
      .distinct()
    val rare = g.groupBy(col("g3")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 40).select(col("g3"))
    val gc = g.join(rare, Seq("g3"))
    val cand = gc.as("a")
      .join(gc.as("b"), col("a.g3") === col("b.g3") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    cand
      .join(ents.as("e1"), col("e1.id") === col("id1"))
      .join(ents.as("e2"), col("e2.id") === col("id2"))
      .select(col("id1"), col("id2"), col("e1.nm").as("name1"),
        col("e2.nm").as("name2"),
        levenshtein(col("e1.nm"), col("e2.nm")).cast("long").as("ed"))
      .filter(col("ed") <= 2)
      .orderBy(col("id1"), col("id2"))
  }

  /** DISTRIBUTED CLASSIFIER TRAINING STEP — the piece
    * [[domainClassify]] deliberately leaves out: where its weight
    * table comes from. One full-batch SGD step of logistic regression
    * over hashed bag-of-words buckets (fastText's linear regime: the
    * quality/language filters of the CCNet / DCLM family are trained
    * exactly like this), with lang='en' as the binary label. Scoring
    * reuses the [[domainClassify]] arithmetic-derived init table (the
    * Knuth-mix of the bucket id) so both engines share the starting
    * point exactly; the output is the per-bucket updated weight table
    * — run it again with `w_after` as the init and you have epoch 2.
    *
    * Cross-engine determinism (the sq8 integer micro-unit rule): the
    * doc score is an EXACT integer sum over its buckets divided once;
    * sigmoid is quantized 1e-9 (the lm_score ln rule); each doc's
    * per-occurrence gradient contribution is quantized to INTEGER
    * micro-units (×1e12) so the per-bucket sum is exact integer
    * arithmetic — order-free under any partitioning — and floats
    * reappear only in the final rounded projection.
    *
    * 100 TB shape: tokenize → hash → score → residual is one fused
    * map-side projection (no join — the init table is arithmetic, and
    * a trained table would broadcast: NB×8 bytes); the ONLY shuffle is
    * the groupBy on bucket id, whose cardinality is the constant NB —
    * partial aggregation does the heavy lifting map-side, the reduce
    * side touches ≤ NB rows regardless of corpus size. That is the
    * same plan at sf0.01 and at 100 TB. */
  val classifierTrain: QueryDef = {
    val NB = 4096L
    val A = 2654435761L
    val M = 999983L
    val Half = 499991L
    val Lr = 0.5
    QueryDef.sql(
      "ta_classifier_train",
      s"""WITH tk AS (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    list_transform(string_split(text, ' '),
        |      t -> list_reduce(
        |        [CAST(0 AS BIGINT)] ||
        |        list_transform(generate_series(1, length(t)),
        |                       i -> CAST(ascii(substr(t, i, 1)) AS BIGINT)),
        |        (h, c) -> (h * 131 + c) % 1000000007) % $NB) AS bs
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, y, bs, len(bs) AS n,
        |    list_reduce(list_transform(bs, b -> (b * $A) % $M - $Half),
        |      (a, b) -> a + b) AS wsum
        |  FROM tk),
        |res AS (
        |  SELECT bs,
        |    CAST(round((round(1.0 / (1.0 + exp(-(wsum / (n * $Half)))), 9) - y)
        |         / n * 1e12) AS BIGINT) AS rq
        |  FROM sc),
        |g AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_occ,
        |    CAST(sum(rq) AS BIGINT) AS g_micro
        |  FROM (SELECT unnest(bs) AS bucket, rq FROM res) o
        |  GROUP BY bucket)
        |SELECT bucket, n_occ,
        |  round(((bucket * $A) % $M - $Half) / $Half.0, 6) AS w_before,
        |  round(((bucket * $A) % $M - $Half) / $Half.0
        |        - $Lr * (g_micro / 1e12), 6) AS w_after
        |FROM g ORDER BY bucket""".stripMargin) { (s, d) =>
      val tk = Tables.documents(s, d).select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        transform(toks, t => Dedup.tokHash(t) % NB).as("bs"))
      val sc = tk
        .withColumn("n", size(col("bs")).cast("long"))
        .withColumn("wsum", aggregate(col("bs"), lit(0L),
          (acc, b) => acc + ((b * A) % M - Half)))
      val res = sc.select(col("bs"),
        round((round(lit(1.0) / (lit(1.0) +
            exp(-(col("wsum") / (col("n") * Half)))), 9) - col("y"))
          / col("n") * 1e12, 0).cast("long").as("rq"))
      res.select(explode(col("bs")).as("bucket"), col("rq"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_occ"), sum(col("rq")).as("g_micro"))
        .select(col("bucket"), col("n_occ"),
          round(((col("bucket") * A) % M - Half) / Half.toDouble, 6)
            .as("w_before"),
          round(((col("bucket") * A) % M - Half) / Half.toDouble
            - lit(Lr) * (col("g_micro") / 1e12), 6).as("w_after"))
        .orderBy(col("bucket"))
    }
  }

  /** FULL BPE TRAINING LOOP + APPLY — [[bpeMerge]] runs ONE turn of
    * the inner loop; this trains a K-merge vocabulary end-to-end and
    * tokenizes the corpus with it. Classic word-frequency BPE: the
    * vocab table is (word, count, units) with units starting as single
    * characters; each round aggregates adjacent-unit pair counts
    * weighted by word frequency, picks the argmax pair (count desc,
    * then pair — both engines' binary string order), and merges it
    * across the vocab; after K rounds each doc's token count is the
    * sum of its words' final unit counts.
    *
    * One deliberate divergence from textbook BPE, for cross-engine
    * bit-exactness: SELF-pairs (a,a) are excluded from the merge
    * candidates. With a ≠ b, two matches can never overlap (a match at
    * i+1 would need U[i+1] = b AND U[i+1] = a), so "merge all
    * occurrences simultaneously" IS leftmost-non-overlapping — a pure
    * per-position array expression, no fold, identical in both
    * engines. Self-pairs would make the result depend on run parity
    * (the "aaa" problem), which a replace-scan hides engine-side.
    *
    * 100 TB shape: the loop runs over the VOCABULARY (corpus-distinct
    * words — millions, not the corpus itself), built by one corpus
    * aggregation; each round is a vocab-bounded pair aggregation + a
    * driver-read argmax (one tiny action, the bloom/bm25 scalar
    * convention) + a map-side merge, with per-round localCheckpoint
    * truncating the growing lambda lineage. The corpus is touched
    * exactly twice: once to build the vocab, once to score docs
    * against the final vocab (a broadcast-sized join at any scale —
    * vocab ≪ corpus). */
  val bpeTrain: QueryDef = {
    val K = 8
    def stepSql(k: Int): String = {
      val prev = s"v${k - 1}"
      s"""pc$k AS (
        |  SELECT u[i] AS a, u[i + 1] AS b, CAST(sum(wc) AS BIGINT) AS cnt
        |  FROM $prev CROSS JOIN LATERAL
        |    unnest(generate_series(1, len(u) - 1)) s(i)
        |  WHERE u[i] <> u[i + 1]
        |  GROUP BY 1, 2),
        |best$k AS (SELECT a, b FROM pc$k ORDER BY cnt DESC, a, b LIMIT 1),
        |v$k AS (
        |  SELECT word, wc,
        |    list_filter(list_transform(generate_series(1, len(u)),
        |      i -> CASE WHEN u[i] = a AND u[i + 1] = b THEN a || b
        |                WHEN u[i - 1] = a AND u[i] = b THEN NULL
        |                ELSE u[i] END),
        |      x -> x IS NOT NULL) AS u
        |  FROM $prev CROSS JOIN best$k)""".stripMargin
    }
    QueryDef.sql(
      "ta_bpe_train",
      s"""WITH v0 AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS wc,
        |    list_transform(generate_series(1, length(word)),
        |                   i -> substr(word, i, 1)) AS u
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
        |  GROUP BY word),
        |${(1 to K).map(stepSql).mkString(",\n")},
        |wtok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(len(v.u)) AS BIGINT) AS n_units,
        |  CAST(sum(length(t.word)) AS BIGINT) AS n_chars,
        |  round(sum(length(t.word)) * 1.0 / sum(len(v.u)), 6) AS chars_per_unit
        |FROM wtok t JOIN v$K v ON v.word = t.word
        |GROUP BY t.doc_id
        |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      var vocab = docs.select(explode(toks).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("wc"))
        .withColumn("u", transform(
          sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))))
        .localCheckpoint(true)
      for (_ <- 1 to K) {
        // size >= 2 guard: Spark's sequence(1, 0) counts DOWN ([1, 0]),
        // so a single-unit word would emit an out-of-bounds pair probe
        val best = vocab
          .filter(size(col("u")) > 1)
          .select(col("wc"), explode(transform(
            sequence(lit(1), size(col("u")) - 1),
            i => struct(element_at(col("u"), i).as("a"),
              element_at(col("u"), i + 1).as("b")))).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"), col("wc"))
          .filter(col("a") =!= col("b"))
          .groupBy(col("a"), col("b")).agg(sum(col("wc")).as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
          .select(col("a"), col("b"))
        // merge all occurrences at once — exact because a ≠ b (above)
        vocab = vocab.crossJoin(broadcast(best))
          .withColumn("u", filter(
            transform(sequence(lit(0), size(col("u")) - 1), i => {
              val cur = get(col("u"), i)
              val nxt = get(col("u"), i + 1)
              val prv = get(col("u"), i - 1)
              when(cur === col("a") && nxt === col("b"),
                concat(col("a"), col("b")))
                .when(prv === col("a") && cur === col("b"),
                  lit(null).cast("string"))
                .otherwise(cur)
            }),
            x => x.isNotNull))
          .select(col("word"), col("wc"), col("u"))
          .localCheckpoint(true)
      }
      val wtok = docs.select(col("doc_id"), explode(toks).as("word"))
      wtok.join(vocab.select(col("word"), size(col("u")).as("nu")),
          Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("nu")).cast("long").as("n_units"),
          sum(length(col("word"))).cast("long").as("n_chars"))
        .select(col("doc_id"), col("n_words"), col("n_units"), col("n_chars"),
          round(col("n_chars") * 1.0 / col("n_units"), 6).as("chars_per_unit"))
        .orderBy(col("doc_id"))
    }
  }

  val all: Seq[QueryDef] =
    Seq(tokenStats, langId, quality, fingerprint, tfidf, piiMask, bpePairs,
      bpeMerge, chunking, packing, repetition, cmsHeavy, normalize, lmScore,
      hllDistinct, qualityBuckets, domainClassify, fuzzyMatch,
      classifierTrain, bpeTrain)
}
