package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus-cleaning pipeline — the composition a training-data
  * run actually executes, as ONE dataflow: per-doc statistics → quality
  * gate → exact dedup of the survivors. Demonstrates that the individual
  * operators (TextAnalysis stats, Dedup exact) compose into a single
  * Catalyst plan: the stats are map-side, the gate is a pushed filter,
  * and the only shuffles are the final content-hash group and the sort.
  *
  * Cross-engine determinism: the quality GATE uses exact integer
  * arithmetic only (token counts, cross-multiplied ratio thresholds) —
  * a raw FP threshold on the logistic score could flip rows whose score
  * sits one ulp from the cut (the r1 hash-failure class). The logistic
  * score itself ships as an informational column, rounded to 6 decimals
  * (the same contract ta_quality already proved hash-stable).
  */
object Pipeline {

  /** Gate: 30 ≤ n_tokens ≤ 1000 and stopword density ≥ 10 % (exact:
    * stop_cnt·10 ≥ n_tokens). Corpus: documents ∪ exact copies of every
    * 10th doc — the dedup stage must collapse them after the gate. */
  val corpusClean: QueryDef = QueryDef.sql(
    "pipe_corpus_clean",
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id, text FROM documents
      |  WHERE doc_id % 10 = 0),
      |stats AS (
      |  SELECT doc_id, text,
      |    len(toks) AS n_tokens,
      |    len(list_filter(toks, x -> x IN ('the','a','of','and'))) AS stop_cnt,
      |    list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS char_sum
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
      |        FROM corpus) t),
      |gated AS (
      |  SELECT * FROM stats
      |  WHERE n_tokens BETWEEN 30 AND 1000 AND stop_cnt * 10 >= n_tokens),
      |deduped AS (
      |  SELECT md5(text) AS content_hash, min(doc_id) AS doc_id,
      |    count(*) AS n_copies, min(n_tokens) AS n_tokens,
      |    min(stop_cnt) AS stop_cnt, min(char_sum) AS char_sum
      |  FROM gated GROUP BY md5(text))
      |SELECT doc_id, n_copies, n_tokens,
      |  round(stop_cnt * 1.0 / n_tokens, 6) AS stop_ratio,
      |  round(1.0/(1.0 + exp(-(0.3*(char_sum * 1.0 / n_tokens)
      |        + 2.0*(stop_cnt * 1.0 / n_tokens) - 0.002*n_tokens))), 6)
      |    AS quality
      |FROM deduped
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val stopWords = Seq("the", "a", "of", "and")
    val docs = Tables.documents(s, d)
    val corpus = docs.select(col("doc_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val toks = split(col("text"), " ")
    val stats = corpus.select(col("doc_id"), col("text"),
      size(toks).as("n_tokens"),
      size(filter(toks, t => stopWords.map(t === _).reduce(_ || _)))
        .as("stop_cnt"),
      aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
        .as("char_sum"))
    // Pipeline observability via Dataset.observe: per-run input/kept
    // counts ride along as CollectMetrics nodes (read from
    // queryExecution.observedMetrics after any action; asserted in the
    // suite) — the production way to monitor gate selectivity without a
    // second pass over the corpus. Output rows are unaffected.
    val gated = stats
      .observe("pipe_in", count(lit(1)).as("n_in"))
      .filter(
        col("n_tokens").between(30, 1000) &&
          col("stop_cnt") * 10 >= col("n_tokens"))
      .observe("pipe_kept", count(lit(1)).as("n_kept"))
    val deduped = gated
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"),
        min(col("n_tokens")).as("n_tokens"), min(col("stop_cnt")).as("stop_cnt"),
        min(col("char_sum")).as("char_sum"))
    deduped.select(col("doc_id"), col("n_copies"), col("n_tokens"),
        round(col("stop_cnt").cast("double") / col("n_tokens"), 6)
          .as("stop_ratio"),
        round(lit(1.0) / (lit(1.0) +
          exp(-(lit(0.3) * (col("char_sum").cast("double") / col("n_tokens"))
            + lit(2.0) * (col("stop_cnt").cast("double") / col("n_tokens"))
            - lit(0.002) * col("n_tokens")))), 6).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** DOMAIN MIXING — rebalance a corpus to target language proportions
    * (the "data mixture" step of a training run: e.g. 40 % en, 15 %
    * each of de/es/fr/zh, over a budget of half the corpus). Per-lang
    * sampling rates derive from the available counts with exact integer
    * arithmetic (permille rates, integer division), and membership is
    * the same deterministic multiplicative hash the stratified sampler
    * uses — so the selected SET is identical on any engine, any
    * partitioning, any cluster size. Scale shape: one count
    * aggregation, a broadcast of the per-lang rate table (|langs|
    * rows), a map-side hash filter, one final aggregation — the corpus
    * itself is scanned twice and shuffled once (the count pass can be
    * replaced by catalog statistics at 100 TB). */
  val domainMix: QueryDef = QueryDef.sql(
    "pipe_domain_mix",
    """WITH counts AS (
      |  SELECT lang, count(*) AS n_avail FROM documents GROUP BY lang),
      |tot AS (SELECT CAST(sum(n_avail) AS BIGINT) AS n_total FROM counts),
      |rates AS (
      |  SELECT lang, n_avail,
      |    CAST(((SELECT n_total FROM tot) // 2)
      |      * (CASE WHEN lang = 'en' THEN 400 ELSE 150 END) // 1000
      |      AS BIGINT) AS n_target,
      |    CAST(least(1000, ((SELECT n_total FROM tot) // 2)
      |      * (CASE WHEN lang = 'en' THEN 400 ELSE 150 END) // 1000
      |      * 1000 // n_avail) AS BIGINT) AS rate_permille
      |  FROM counts),
      |sel AS (
      |  SELECT d.lang, d.doc_id
      |  FROM documents d JOIN rates r ON r.lang = d.lang
      |  WHERE (d.doc_id * 2654435761) % 1000 < r.rate_permille)
      |SELECT r.lang, r.n_avail, r.n_target, r.rate_permille,
      |  count(s.doc_id) AS n_selected,
      |  coalesce(min(s.doc_id), -1) AS first_doc,
      |  coalesce(max(s.doc_id), -1) AS last_doc
      |FROM rates r LEFT JOIN sel s ON s.lang = r.lang
      |GROUP BY r.lang, r.n_avail, r.n_target, r.rate_permille
      |ORDER BY r.lang""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_avail"))
    // |langs| rows: the unpartitioned window is a tiny aggregated
    // relation, same class as the BPE rank table
    val withTotal = counts.withColumn("n_total",
      sum(col("n_avail")).over(org.apache.spark.sql.expressions.Window
        .partitionBy()))
    val share = when(col("lang") === "en", 400L).otherwise(150L)
    // |langs| rows but derived from a full corpus scan: persist so the
    // membership filter AND the final report both reuse it (3 corpus
    // scans -> 2)
    val rates = withTotal.select(col("lang"), col("n_avail"),
        expr("n_total DIV 2").multiply(share).as("budget_share"))
      .select(col("lang"), col("n_avail"),
        expr("budget_share DIV 1000").as("n_target"))
      .select(col("lang"), col("n_avail"), col("n_target"),
        least(lit(1000L), expr("n_target * 1000 DIV n_avail"))
          .as("rate_permille"))
      .persist()
    val sel = docs.select(col("lang"), col("doc_id"))
      .join(broadcast(rates.select(col("lang"), col("rate_permille"))), Seq("lang"))
      .filter((col("doc_id") * 2654435761L) % 1000L < col("rate_permille"))
    rates.join(sel.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_selected"),
          min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx")),
        Seq("lang"), "left_outer")
      .select(col("lang"), col("n_avail"), col("n_target"),
        col("rate_permille"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("mn"), lit(-1L)).as("first_doc"),
        coalesce(col("mx"), lit(-1L)).as("last_doc"))
      .orderBy(col("lang"))
  }

  /** SMALL-FILE COMPACTION — the operational chore every long-running
    * ingest pipeline needs: a directory accumulated from many tiny
    * appends (here: the documents table scattered into per-lang-chunk
    * fragments) is rewritten into a bounded number of size-targeted
    * files, clustered by (lang, doc_id) via repartition + in-partition
    * sort so parquet row-group stats become selective for both columns.
    * At 100 TB the small-files problem dominates NameNode/driver
    * planning time and per-file open cost; compaction is a metadata-
    * bounded rewrite (one shuffle, no logic). The oracle checks content
    * preservation — the aggregate over the compacted copy must
    * hash-match the original table; the file-count bound itself is
    * asserted in the suite (the driver's SQL oracle cannot see file
    * systems). */
  val compact: QueryDef = QueryDef.sql(
    "pipe_compact",
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, d) =>
    val base = graft.Staging.dir("compact", d)
    val docs = Tables.documents(s, d)
    // fragment: many tiny files, as an append-heavy ingest would leave
    docs.repartition(64).write.mode("overwrite").parquet(s"$base/frag")
    compactDir(s, s"$base/frag", s"$base/packed", Seq("lang", "doc_id"),
      targetFiles = 4)
    s.read.parquet(s"$base/packed")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"))
  }

  /** Rewrites `in` into at most `targetFiles` files clustered on
    * `clusterBy` (repartition on the leading key, sort within
    * partitions on the full key so row-group min/max stats are tight
    * for data skipping). */
  def compactDir(s: org.apache.spark.sql.SparkSession, in: String,
      out: String, clusterBy: Seq[String], targetFiles: Int): Unit =
    s.read.parquet(in)
      .repartition(targetFiles, col(clusterBy.head))
      .sortWithinPartitions(clusterBy.map(col): _*)
      .write.mode("overwrite").parquet(out)

  /** BENCHMARK DECONTAMINATION — the training-data hygiene stage: any
    * corpus document sharing a 4-token shingle with the benchmark set
    * (here: every 100th doc plays the benchmark) is flagged with its
    * overlap count, ready for an anti-join drop. Scale shape: the
    * benchmark is small BY NATURE (eval sets are thousands of docs, the
    * corpus is billions), so its distinct-shingle set BROADCASTS and
    * the corpus side is a map-side hash probe — zero corpus shuffle
    * until the tiny per-contaminated-doc aggregation. Counting is
    * exact-integer; determinism is engine-independent. */
  val decontaminate: QueryDef = QueryDef.sql(
    "pipe_decontaminate",
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(toks) - 3),
      |      i -> array_to_string(list_slice(toks, i, i + 3), ' '))) AS g
      |  FROM toks),
      |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 100 = 0)
      |SELECT s.doc_id, CAST(count(DISTINCT s.g) AS BIGINT) AS n_shared
      |FROM sh s JOIN bench b ON b.g = s.g
      |WHERE s.doc_id % 100 <> 0
      |GROUP BY s.doc_id
      |ORDER BY s.doc_id""".stripMargin) { (s, d) =>
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 3),
          i => array_join(slice(col("toks"), i, lit(4)), " "))).as("g"))
    val bench = sh.filter(col("doc_id") % 100 === 0).select(col("g")).distinct()
    sh.filter(col("doc_id") % 100 =!= 0)
      .join(broadcast(bench), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("g")).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** SCALE PATH for decontamination — same semantics, same oracle as
    * [[decontaminate]], different join physics. The exact path probes a
    * broadcast of the benchmark's distinct shingle STRINGS; at
    * deployment scale (a few thousand eval docs → millions of distinct
    * shingles × ~40 bytes) that broadcast runs to hundreds of MB per
    * executor. Here the corpus side is pre-filtered by Spark's own
    * bloom-filter pair (`BloomFilterAggregate` build over
    * `xxhash64(shingle)`, `BloomFilterMightContain` probe — the exact
    * machinery Catalyst's runtime-filter injection uses, constructed
    * programmatically via the shim since neither has a SQL name): the
    * filter is ~1.2 bytes/element at 1 % FPP — two orders smaller than
    * the string set — and the probe is a map-side bitset test inside
    * codegen, no join at all. Only bloom SURVIVORS (true contaminated
    * shingles + the ~1 % FPs) reach the exact verify join, which
    * removes every false positive — so the output is bit-identical to
    * the exact path (same oracle SQL) while the shuffled/probed volume
    * drops by the corpus's non-contaminated fraction, which is ~all of
    * it. The verify side stays broadcast here; at 100 TB it could even
    * shuffle — it sees only survivors. */
  val decontaminateBloom: QueryDef = QueryDef.sql(
    "pipe_decontaminate_bloom",
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(toks) - 3),
      |      i -> array_to_string(list_slice(toks, i, i + 3), ' '))) AS g
      |  FROM toks),
      |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 100 = 0)
      |SELECT s.doc_id, CAST(count(DISTINCT s.g) AS BIGINT) AS n_shared
      |FROM sh s JOIN bench b ON b.g = s.g
      |WHERE s.doc_id % 100 <> 0
      |GROUP BY s.doc_id
      |ORDER BY s.doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftshim.Shim
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 3),
          i => array_join(slice(col("toks"), i, lit(4)), " "))).as("g"))
    // pinned eagerly (r16 verdict #1): consumed by the sizing count
    // and the bloom build/probe
    val bench = graft.InternalCaches.pinEager(
      sh.filter(col("doc_id") % 100 === 0).select(col("g")).distinct())
    // build: one tiny aggregate over the benchmark side (a driver
    // scalar, like the one-row stats reads elsewhere); sized from the
    // MEASURED eval-set cardinality, not a constant (r15): the bench
    // side derives from the corpus here, so a hard-coded expected-item
    // count silently degrades the FPP as the fixture scales — every
    // extra false positive is a row the exact verify join must absorb.
    // bench is persisted, so the count is one cheap action; capped at
    // Spark's own runtime-filter ceiling (4M) past which the verify
    // join should shuffle instead anyway.
    val benchN = math.min(math.max(bench.count(), 1L), 4000000L)
    val bf = bench.select(Shim.column(
      new BloomFilterAggregate(Shim.expression(xxhash64(col("g"))), benchN)
        .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val mightContain = Shim.column(new BloomFilterMightContain(
      Shim.expression(lit(bf)), Shim.expression(xxhash64(col("g")))))
    sh.filter(col("doc_id") % 100 =!= 0)
      .filter(mightContain) // map-side bitset probe, no join
      .join(broadcast(bench), Seq("g")) // exact verify: FPs die here
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("g")).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/val/test split: each doc's bucket is the first
    * 4 hex chars of md5(doc_id-as-string) mod 100 — buckets 0-89 train,
    * 90-94 val, 95-99 test. The property that matters at 100 TB (and
    * that `randomSplit` does NOT have): the assignment is a pure
    * function of the doc's own key, so a doc's split NEVER changes as
    * the corpus grows, re-partitions, or re-orders — no leakage of val
    * docs into train across ingestion runs. Map-side arithmetic only:
    * no shuffle, no state, embarrassingly parallel at any scale. */
  val trainSplit: QueryDef = QueryDef.sql(
    "pipe_split",
    """WITH assigned AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100
      |      AS bucket
      |  FROM documents)
      |SELECT doc_id, bucket,
      |  CASE WHEN bucket < 90 THEN 'train'
      |       WHEN bucket < 95 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM assigned
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("int") % 100).as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** DATA PROFILING — the validation pass a pipeline runs before
    * training on a new corpus drop: per-column row/null/distinct counts
    * and value-length bounds, emitted as one tidy (column, metric)
    * table. One scan computes every metric (a single multi-aggregate —
    * count/count(col)/approx-free exact distincts via count(distinct)
    * inside one aggregation), so profiling 100 TB costs one pass; at
    * cluster scale the same shape runs per-partition-batch and the
    * metrics union. All metrics are exact integers — no FP, no
    * sampling — so the profile is bit-reproducible anywhere. */
  val profile: QueryDef = QueryDef.sql(
    "pipe_profile",
    """WITH m AS (
      |  SELECT count(*) AS n_rows,
      |    count(doc_id) AS doc_id_nn, count(DISTINCT doc_id) AS doc_id_d,
      |    count(text) AS text_nn, count(DISTINCT text) AS text_d,
      |    min(length(text)) AS text_minl, max(length(text)) AS text_maxl,
      |    count(lang) AS lang_nn, count(DISTINCT lang) AS lang_d,
      |    min(length(lang)) AS lang_minl, max(length(lang)) AS lang_maxl,
      |    count(source) AS source_nn, count(DISTINCT source) AS source_d,
      |    min(length(source)) AS source_minl, max(length(source)) AS source_maxl
      |  FROM documents)
      |SELECT * FROM (
      |  SELECT 'doc_id' AS col, n_rows, n_rows - doc_id_nn AS n_null,
      |    doc_id_d AS n_distinct, -1 AS min_len, -1 AS max_len FROM m
      |  UNION ALL
      |  SELECT 'text', n_rows, n_rows - text_nn, text_d, text_minl, text_maxl FROM m
      |  UNION ALL
      |  SELECT 'lang', n_rows, n_rows - lang_nn, lang_d, lang_minl, lang_maxl FROM m
      |  UNION ALL
      |  SELECT 'source', n_rows, n_rows - source_nn, source_d, source_minl, source_maxl FROM m)
      |ORDER BY col""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val m = docs.agg(
      count(lit(1)).as("n_rows"),
      count(col("doc_id")).as("doc_id_nn"),
      countDistinct(col("doc_id")).as("doc_id_d"),
      count(col("text")).as("text_nn"),
      countDistinct(col("text")).as("text_d"),
      min(length(col("text"))).as("text_minl"),
      max(length(col("text"))).as("text_maxl"),
      count(col("lang")).as("lang_nn"),
      countDistinct(col("lang")).as("lang_d"),
      min(length(col("lang"))).as("lang_minl"),
      max(length(col("lang"))).as("lang_maxl"),
      count(col("source")).as("source_nn"),
      countDistinct(col("source")).as("source_d"),
      min(length(col("source"))).as("source_minl"),
      max(length(col("source"))).as("source_maxl"))
    // materialize the ONE aggregate row and shape the tidy table from
    // its literals — a union of four selects over the lazy aggregate
    // would plan four independent scans of documents, quietly breaking
    // the one-pass contract this operator exists for
    val r = m.head()
    def g(name: String): Long = r.getLong(r.fieldIndex(name))
    def gi(name: String): Int = r.getInt(r.fieldIndex(name))
    val rows = Seq(
      ("doc_id", g("n_rows"), g("n_rows") - g("doc_id_nn"), g("doc_id_d"),
        -1, -1),
      ("lang", g("n_rows"), g("n_rows") - g("lang_nn"), g("lang_d"),
        gi("lang_minl"), gi("lang_maxl")),
      ("source", g("n_rows"), g("n_rows") - g("source_nn"), g("source_d"),
        gi("source_minl"), gi("source_maxl")),
      ("text", g("n_rows"), g("n_rows") - g("text_nn"), g("text_d"),
        gi("text_minl"), gi("text_maxl")))
    import s.implicits._
    rows.toDF("col", "n_rows", "n_null", "n_distinct", "min_len", "max_len")
      .orderBy(col("col"))
  }

  /** Shards per training shuffle. A fixture-scale stand-in: at cluster
    * scale this is thousands (≫ executor count), so every window
    * partition below stays small and parallel. */
  private val ShuffleShards = 8

  /** DETERMINISTIC TRAINING SHUFFLE + SHARDING — the last step before a
    * corpus feeds a data loader: break curation order (sources arrive
    * clustered by domain/crawl, and consuming them in that order skews
    * early training), assign every doc to a shard, and give each shard a
    * stable read order. Hash-derived ordering makes the shuffle a pure
    * function of the doc key: re-running the pipeline, or growing the
    * corpus, never reorders existing docs relative to each other within
    * a shard (the [[trainSplit]] stability argument applied to ordering).
    *
    * 100 TB shape: shard assignment is map-side arithmetic; the within-
    * shard position is a window PARTITIONED BY shard — with shards ≫
    * executors every partition is a bounded slice, never a global sort.
    * (A global row_number would serialize on one partition; sharding is
    * exactly how real loaders avoid needing one.) */
  val shuffleShard: QueryDef = QueryDef.sql(
    "pipe_shuffle",
    s"""WITH h AS (
      |  SELECT doc_id, (doc_id * 2654435761) % 1000000007 AS hkey FROM documents)
      |SELECT doc_id, CAST(hkey % $ShuffleShards AS BIGINT) AS shard,
      |  CAST(row_number() OVER (PARTITION BY hkey % $ShuffleShards
      |         ORDER BY hkey, doc_id) AS BIGINT) AS pos_in_shard
      |FROM h
      |ORDER BY shard, pos_in_shard""".stripMargin) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("hkey"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        ((col("doc_id") * 2654435761L) % 1000000007L).as("hkey"))
      .withColumn("shard", col("hkey") % ShuffleShards)
      .select(col("doc_id"), col("shard"),
        row_number().over(w).cast("long").as("pos_in_shard"))
      .orderBy(col("shard"), col("pos_in_shard"))
  }

  /** GRADED contamination scoring — [[decontaminate]] reports which
    * docs share ANY benchmark n-gram; real policies grade by the
    * overlap FRACTION (the GPT-3/PaLM appendix shape: drop a doc whose
    * gram overlap with an eval set exceeds a high bar, flag a gray
    * zone for review, keep the rest). Per doc: distinct 4-gram count,
    * distinct grams also in the benchmark set, their ratio, and a
    * three-band verdict. The verdict compares CROSS-MULTIPLIED integer
    * counts (5·shared ≥ 4·total ⇔ frac ≥ 0.8), never the rounded
    * float — the gate-on-integers rule every pipeline op here follows,
    * so a doc one ulp from a band edge cannot flip between engines.
    *
    * The fixture corpus has near-zero chance overlap, so the query
    * PLANTS contamination (the module's plant convention): every
    * doc ≡ 3 (mod 7) splices 60 benchmark tokens after 5 of its own
    * (≈ 0.9 overlap → drop), every doc ≡ 5 (mod 7) splices 25 after
    * 15 (≈ 0.6 → flag); benchmark docs (doc_id ≡ 0 mod 100) are
    * excluded from scoring. 100 TB shape: benchmark gram sets are
    * small by construction (eval suites, not corpora) — a broadcast
    * left join against the corpus gram stream, one groupBy on doc_id;
    * the plant's self-join disappears in production where contaminated
    * text arrives contaminated. */
  val contaminationScore: QueryDef = QueryDef.sql(
    "pipe_contamination_score",
    """WITH spliced AS (
      |  SELECT d.doc_id,
      |    CASE
      |      WHEN d.doc_id % 100 <> 0 AND d.doc_id % 7 = 3 THEN
      |        array_to_string(
      |          list_slice(string_split(d.text, ' '), 1, 5) ||
      |          list_slice(string_split(bx.text, ' '), 1, 60), ' ')
      |      WHEN d.doc_id % 100 <> 0 AND d.doc_id % 7 = 5 THEN
      |        array_to_string(
      |          list_slice(string_split(d.text, ' '), 1, 15) ||
      |          list_slice(string_split(bx.text, ' '), 1, 25), ' ')
      |      ELSE d.text END AS text
      |  FROM documents d JOIN documents bx ON bx.doc_id = (d.doc_id % 5) * 100),
      |sh AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(toks) - 3),
      |      i -> array_to_string(list_slice(toks, i, i + 3), ' '))) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM spliced) t),
      |bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 100 = 0)
      |SELECT doc_id, n_grams, n_shared,
      |  round(n_shared * 1.0 / n_grams, 6) AS overlap_frac,
      |  CASE WHEN 5 * n_shared >= 4 * n_grams THEN 'drop'
      |       WHEN 5 * n_shared >= n_grams THEN 'flag'
      |       ELSE 'clean' END AS verdict
      |FROM (
      |  SELECT s.doc_id,
      |    CAST(count(DISTINCT s.g) AS BIGINT) AS n_grams,
      |    CAST(count(DISTINCT CASE WHEN b.g IS NOT NULL THEN s.g END) AS BIGINT)
      |      AS n_shared
      |  FROM sh s LEFT JOIN bench b ON b.g = s.g
      |  WHERE s.doc_id % 100 <> 0
      |  GROUP BY s.doc_id) z
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val bx = docs.select(col("doc_id").as("bx_id"),
      split(col("text"), " ").as("bx_toks"))
    val spliced = docs
      .join(bx, (col("doc_id") % 5) * 100 === col("bx_id"))
      .select(col("doc_id"),
        when(col("doc_id") % 100 =!= 0 && col("doc_id") % 7 === 3,
            array_join(concat(slice(split(col("text"), " "), 1, 5),
              slice(col("bx_toks"), 1, 60)), " "))
          .when(col("doc_id") % 100 =!= 0 && col("doc_id") % 7 === 5,
            array_join(concat(slice(split(col("text"), " "), 1, 15),
              slice(col("bx_toks"), 1, 25)), " "))
          .otherwise(col("text")).as("text"))
    val sh = spliced
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 3),
          i => array_join(slice(col("toks"), i, lit(4)), " "))).as("g"))
    val bench = sh.filter(col("doc_id") % 100 === 0)
      .select(col("g").as("bg")).distinct()
    val nShared = count_distinct(when(col("bg").isNotNull, col("g")))
    sh.filter(col("doc_id") % 100 =!= 0)
      .join(broadcast(bench), col("g") === col("bg"), "left")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("g")).as("n_grams"), nShared.as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        round(col("n_shared") * 1.0 / col("n_grams"), 6).as("overlap_frac"),
        when(lit(5) * col("n_shared") >= lit(4) * col("n_grams"), "drop")
          .when(lit(5) * col("n_shared") >= col("n_grams"), "flag")
          .otherwise("clean").as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** TOKEN-BUDGET mixture sampling — the step that turns "we crawled N
    * tokens per source" into "the training mix holds B tokens per
    * source, best documents first": within each source, documents are
    * ranked by quality (type–token ratio, tiebreak doc_id) and admitted
    * greedily until the source's token budget (here: half its crawled
    * tokens) is spent. Unlike [[domainMix]] (doc-count rate sampling,
    * membership decided per-row by hash), this is a budgeted knapsack
    * prefix — the contract used when the unit of cost is TOKENS, as in
    * real pretraining mixes.
    *
    * Determinism: the ranking key is the raw IEEE ratio n_distinct /
    * n_tokens of identical integers — bit-identical in both engines —
    * with doc_id as total tiebreak; the reported quality column is
    * rounded to 6 decimals (display only, never compared against).
    *
    * 100 TB shape: one map-side stats pass, one groupBy(source) for
    * budgets (|sources| rows, broadcast back), one window partitioned
    * by source for the running token sum. The per-source window is the
    * honest cost: sources are few, so at deployment scale the same
    * contract is served by a two-pass quantile-threshold plan (sketch
    * the per-source quality distribution, cut at the budget quantile,
    * map-side filter) — the window formulation here IS the semantics
    * that plan must reproduce. */
  val tokenBudget: QueryDef = QueryDef.sql(
    "pipe_token_budget",
    """WITH q AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    len(list_distinct(string_split(text, ' '))) * 1.0
      |      / len(string_split(text, ' ')) AS ttr
      |  FROM documents),
      |b AS (
      |  SELECT source, CAST(sum(n_tokens) // 2 AS BIGINT) AS budget
      |  FROM q GROUP BY source),
      |r AS (
      |  SELECT q.doc_id, q.source, q.n_tokens, q.ttr, b.budget,
      |    CAST(sum(q.n_tokens) OVER (
      |      PARTITION BY q.source ORDER BY q.ttr DESC, q.doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_tokens
      |  FROM q JOIN b USING (source))
      |SELECT doc_id, source, n_tokens, round(ttr, 6) AS quality,
      |  cum_tokens, budget
      |FROM r WHERE cum_tokens <= budget
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val toks = split(col("text"), " ")
    val q = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tokens"),
        (size(array_distinct(toks)) * lit(1.0) / size(toks)).as("ttr"))
    val budgets = q.groupBy(col("source"))
      .agg(expr("CAST(sum(n_tokens) DIV 2 AS BIGINT)").as("budget"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("ttr").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    q.join(broadcast(budgets), Seq("source"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w).cast("long"))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(col("ttr"), 6).as("quality"), col("cum_tokens"), col("budget"))
      .orderBy(col("doc_id"))
  }

  /** DSIR-STYLE IMPORTANCE RESAMPLING (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling") — select raw docs
    * that LOOK LIKE a target domain, by hashed-unigram importance
    * weights: bucket the corpus vocabulary into NB hash buckets, fit
    * add-1-smoothed bucket distributions over the target subset
    * (lang='en' here — in production, the curated high-quality seed
    * set) and over the raw corpus, and weight each doc by the sum of
    * per-token log-likelihood ratios. Top quarter by weight is
    * selected. The deterministic variant of the paper's Gumbel-top-k:
    * ranking is by the weight itself, ties broken by doc key.
    *
    * Selection does NOT use a global row_number: the quantile
    * threshold comes from a weight HISTOGRAM (≤ one row per distinct
    * rounded weight) + a cumulative window over that histogram (the
    * adv_quantiles_dist CDF shape), and tie admission is a
    * row_number PARTITIONED by weight — every window here is over
    * bounded or partitioned data, so the plan carries no
    * single-partition global sort of the corpus at 100 TB.
    *
    * Determinism: bucket counts and totals are exact integers; each
    * bucket's log-ratio is quantized to an INT64 of nano-units
    * (`round(lr · 1e9)` — the lm_score ln rule), so the per-doc
    * reduction is an exact integer sum, identical under any
    * partitioning/summation order; the weight is one final division
    * of that integer. (r9 fix: the earlier form summed the quantized
    * values as DOUBLES, and at sf0.1 a ~10³-term doc sum drifted a
    * ulp across engines and flipped the 6th decimal. Quantize → sum
    * exactly → divide once is the determinism rule everywhere else in
    * the engine — GramSum, sweepline, PQ ranking — and now here.)
    * Thresholding and tie-ranking run on weights both engines share
    * bit-for-bit.
    *
    * 100 TB shape: one tokenize+hash pass feeds both count tables
    * (NB-bounded) and the scoring join; the log-ratio table is NB
    * rows — broadcast; per-doc reduction shuffles on doc_id; the
    * quartile selection runs its global cumulative window over a
    * ≤65536-bucket quantized histogram (r15 — the per-WEIGHT histogram
    * has corpus cardinality, so the pre-r15 cumsum over it was a
    * corpus-sized single partition), ITERATING the quantization inside
    * the boundary bucket until its distinct-weight count fits the
    * refinement cap (r16 — distribution-independent: one outlier
    * weight can no longer make the refinement window corpus-sized;
    * see [[weightThreshold]]). Nothing scales worse than the corpus
    * scan. */
  val dsirSelect: QueryDef = {
    val NB = 4096L
    QueryDef.sql(
      "pipe_dsir",
      s"""WITH occ AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(string_split(text, ' '),
        |      t -> list_reduce(
        |        [CAST(0 AS BIGINT)] ||
        |        list_transform(generate_series(1, length(t)),
        |                       i -> CAST(ascii(substr(t, i, 1)) AS BIGINT)),
        |        (h, c) -> (h * 131 + c) % 1000000007) % $NB)) AS b
        |  FROM documents),
        |cr AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM occ GROUP BY b),
        |ct AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM occ
        |       WHERE lang = 'en' GROUP BY b),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS crt,
        |          CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS ctt
        |        FROM occ),
        |lr AS (
        |  SELECT cr.b,
        |    CAST(round((ln((coalesce(ct.ct, 0) + 1.0) / (tot.ctt + $NB))
        |          - ln((cr.cr + 1.0) / (tot.crt + $NB))) * 1000000000)
        |      AS BIGINT) AS lr
        |  FROM cr LEFT JOIN ct ON ct.b = cr.b CROSS JOIN tot),
        |docw AS (
        |  SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |    round(sum(l.lr) / 1000000000.0, 6) AS w
        |  FROM occ o JOIN lr l ON l.b = o.b GROUP BY o.doc_id),
        |k AS (SELECT count(*) // 4 AS k FROM docw),
        |hist AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM docw GROUP BY w),
        |cum AS (SELECT w, cnt,
        |          CAST(sum(cnt) OVER (ORDER BY w DESC) AS BIGINT) AS cum
        |        FROM hist),
        |thr AS (SELECT w AS thr_w, k.k - (cum - cnt) AS quota
        |        FROM cum CROSS JOIN k WHERE cum - cnt < k.k AND cum >= k.k),
        |r AS (SELECT doc_id, n_toks, w,
        |        row_number() OVER (PARTITION BY w ORDER BY doc_id) AS rn
        |      FROM docw)
        |SELECT r.doc_id, r.n_toks, r.w AS weight,
        |  CASE WHEN r.w > t.thr_w OR (r.w = t.thr_w AND r.rn <= t.quota)
        |       THEN 1 ELSE 0 END AS selected
        |FROM r CROSS JOIN thr t
        |ORDER BY r.doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // pinned eagerly (r16 verdict #1): four consumers (cr, ct, tot,
      // the doc-weight join) raced the lazy cache into re-tokenizing
      val occ = graft.InternalCaches.pinEager(Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(transform(split(col("text"), " "),
            t => Dedup.tokHash(t) % NB)).as("b")))
      val cr = occ.groupBy(col("b")).agg(count(lit(1)).as("cr"))
      val ct = occ.filter(col("lang") === "en")
        .groupBy(col("b")).agg(count(lit(1)).as("ct"))
      val tot = occ.agg(count(lit(1)).as("crt"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ctt"))
      val lrt = cr.join(ct, Seq("b"), "left").crossJoin(broadcast(tot))
        .select(col("b"),
          round((log((coalesce(col("ct"), lit(0L)) + lit(1.0)) / (col("ctt") + NB))
            - log((col("cr") + lit(1.0)) / (col("crt") + NB))) * 1000000000L)
            .cast("long").as("lr"))
      // pinned eagerly: the iterated quantization re-reads doc weights
      // once per refinement level
      val docw = graft.InternalCaches.pinEager(occ.join(lrt, Seq("b"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
          round(sum(col("lr")) / lit(1000000000.0), 6).as("w")))
      // exact top-quartile selection with every global window BOUNDED
      // at any corpus size AND any weight distribution (r15 found the
      // corpus-cardinality per-weight window; r16 closes the r15
      // residue — one outlier weight used to compress the whole corpus
      // into quantization bucket 0, making the in-bucket refinement
      // window corpus-sized again). [[weightThreshold]] iterates the
      // quantization until the boundary bucket's DISTINCT-weight count
      // fits the refinement cap; selection is identical: top-k by
      // (w desc, doc_id asc), ties at the threshold weight resolved by
      // the quota rule.
      val k = docw.agg(floor(count(lit(1)) / 4).cast("long")).head().getLong(0)
      val r = docw.withColumn("rn", row_number().over(
        Window.partitionBy(col("w")).orderBy(col("doc_id"))))
      if (k == 0L)
        // oracle semantics: an empty threshold relation (k = 0 never
        // satisfies cum − cnt < k) cross-joins to zero rows
        r.select(col("doc_id"), col("n_toks"), col("w").as("weight"),
            lit(0).as("selected"))
          .filter(lit(false)).orderBy(col("doc_id"))
      else {
        val (thrW, tieQuota, _) = weightThreshold(docw, k)
        r.select(col("doc_id"), col("n_toks"), col("w").as("weight"),
            when(col("w") > thrW ||
              (col("w") === thrW && col("rn") <= tieQuota), 1)
              .otherwise(0).as("selected"))
          .orderBy(col("doc_id"))
      }
    }
  }

  /** Exact (threshold weight, tie quota) of the top-`k` rows of `docw`
    * by (w desc, doc_id asc) — the DSIR quartile boundary — with every
    * global window bounded regardless of corpus size or weight
    * distribution (r15 verdict #1: linear one-shot quantization lets a
    * single outlier weight collapse everything else into bucket 0, and
    * the per-weight refinement window is corpus-sized again).
    *
    * Iterated quantization: per level, bucket the current boundary
    * interval's rows into `nBuckets` equal-width buckets (histogram ≤
    * nBuckets rows — the only global window), locate the single bucket
    * holding the k-boundary, deduct the fully-selected buckets above
    * it from the quota, and descend. Stops — and refines per-weight,
    * a ≤ `maxRefine`-row window — once the boundary bucket's
    * DISTINCT-weight count fits. Equal weights share a bucket at every
    * level (the quantization is a monotone function of w), so the
    * threshold weight's ties are always fully visible to the quota
    * rule. Terminates: the interval shrinks nBuckets× per level and
    * DSIR weights live on a 6-decimal grid, so the distinct count
    * drops under any cap within ~3 levels even for a 1e12 outlier;
    * the level cap and the no-FP-progress guard make the exit
    * unconditional for arbitrary doubles (the fallback refinement is
    * still exact — just unbounded, the documented impossibility under
    * grid weights). Membership in the boundary chain is tracked as a
    * re-evaluated PREDICATE (never interval bounds), so FP edge drift
    * between assignment and filtering cannot occur. Returns the level
    * count for scale tests. Caller guarantees k ≥ 1 and docw nonempty.
    */
  private[ops] def weightThreshold(docw: DataFrame, k: Long,
      nBuckets: Int = 65536, maxRefine: Long = 65536L): (Double, Long, Int) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.Column
    val mm = docw.agg(min(col("w")), max(col("w"))).head()
    var curLo = mm.getDouble(0)
    var curHi = mm.getDouble(1)
    var quota = k
    var inB: Column = lit(true)
    var levels = 0
    while (levels < 64) {
      levels += 1
      if (curHi == curLo) return (curLo, quota, levels)
      val width = curHi - curLo
      val sb = greatest(lit(0), least(lit(nBuckets - 1),
        floor((col("w") - lit(curLo)) / lit(width) * nBuckets))).cast("int")
      // the distinct-weight count only gates the RECURSION decision —
      // selection stays exact whichever way it falls — so the
      // single-pass HLL estimate beats an exact countDistinct's
      // two-phase expand over the corpus-sized level-0 histogram; at
      // ±5% rsd the refinement window is bounded at ~1.05× the cap
      val brow = docw.filter(inB)
        .groupBy(sb.as("cb"))
        .agg(count(lit(1)).as("cnt"),
          approx_count_distinct(col("w")).as("ndw"))
        .withColumn("cum",
          sum(col("cnt")).over(Window.orderBy(col("cb").desc)))
        .filter(col("cum") - col("cnt") < quota && col("cum") >= quota)
        .head()
      val tb = brow.getInt(0)
      quota -= brow.getLong(3) - brow.getLong(1) // minus the buckets above
      inB = inB && (sb === lit(tb))
      val newLo = curLo + tb.toDouble * width / nBuckets
      val newHi = newLo + width / nBuckets
      if (brow.getLong(2) <= maxRefine || levels >= 63 ||
          (newLo == curLo && newHi == curHi)) {
        val wrow = docw.filter(inB)
          .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
          .withColumn("cum",
            sum(col("cnt")).over(Window.orderBy(col("w").desc)))
          .filter(col("cum") - col("cnt") < quota && col("cum") >= quota)
          .head()
        return (wrow.getDouble(0),
          quota - (wrow.getLong(2) - wrow.getLong(1)), levels)
      }
      curLo = newLo
      curHi = newHi
    }
    throw new IllegalStateException(
      "weightThreshold: level cap exceeded without refinement")
  }

  /** LEAKAGE-SAFE SPLITTING — train/val/test assignment where every
    * member of a near-dup cluster lands in the SAME split. The naive
    * per-doc hash split ([[trainSplit]]) tears near-dup clusters
    * across the boundary: a doc trains while its 95 %-identical twin
    * evaluates — the classic silent-contamination path that inflates
    * eval scores. Fix: the split key is the doc's CC cluster label
    * from the MinHash-LSH near-dup graph (its own id for singletons),
    * hashed with [[trainSplit]]'s exact rule — so the 90/5/5 banding,
    * the stability argument (adding docs never moves existing ones
    * unless their cluster gains a lower-id member), and the
    * determinism story all carry over unchanged while the tear
    * becomes structurally impossible: split is a FUNCTION of
    * cluster_id. Runs on the chain corpus (the module's plant
    * convention — documents ∪ two truncation levels of every 20th
    * doc) so real multi-member clusters exercise the property.
    *
    * 100 TB shape: everything up to the labels is [[Dedup]]'s banded
    * candidate generation + join-agg CC (never all-pairs); the split
    * itself adds ONE left join of the corpus ids against the (small —
    * only clustered docs) label relation and a map-side hash. The
    * suite additionally proves the naive split WOULD have torn a
    * planted cluster. */
  val leakageSplit: QueryDef = QueryDef.sql(
    "pipe_leakage_split",
    s"""WITH RECURSIVE ${Dedup.corpusChainSql},
      |${Dedup.encodedToksSql},
      |${Dedup.shinglesSql},
      |${Dedup.lshPairsSql},
      |${Dedup.ccClustersSql},
      |keyed AS (
      |  SELECT c.doc_id, coalesce(cl.cluster_id, c.doc_id) AS split_key
      |  FROM corpus c LEFT JOIN clusters cl ON cl.doc_id = c.doc_id),
      |assigned AS (
      |  SELECT doc_id, split_key,
      |    ('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 4))::INT % 100
      |      AS bucket
      |  FROM keyed)
      |SELECT doc_id, split_key, bucket,
      |  CASE WHEN bucket < 90 THEN 'train'
      |       WHEN bucket < 95 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM assigned
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val corpus = Dedup.corpusChain(Tables.documents(s, d))
    val sh = Dedup.shingles(Dedup.encodedToks(corpus))
    val edges0 = Dedup.lshCandidateEdges(sh)
      .filter(col("n_match") >= 8).select(col("doc1"), col("doc2"))
    val labels = Dedup.connectedComponents(edges0)
    corpus.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("split_key"))
      .select(col("doc_id"), col("split_key"),
        (conv(substring(md5(col("split_key").cast("string")), 1, 4), 16, 10)
          .cast("int") % 100).as("bucket"))
      .select(col("doc_id"), col("split_key"), col("bucket"),
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  /** SEQUENCE PACKING — concatenate the token stream of the whole
    * corpus (deterministic doc_id order, one EOD token after each doc)
    * and chunk it into fixed `PackBudget`-token context windows: the
    * GPT-style pretraining packing step. Output is the (sequence, doc)
    * assignment relation — which sequence(s) each document lands in, at
    * which offset, with how many of its tokens — i.e. exactly the index
    * a data loader needs to materialize sequence `i` without scanning
    * its neighbors. A document longer than the remaining window
    * straddles the boundary and continues in the next sequence
    * (`is_split` = 1), so no token is ever dropped or padded except the
    * tail of the final sequence.
    *
    * The global token offset is a distributed THREE-level prefix sum,
    * NOT a corpus-wide window (which Spark plans as ONE partition — the
    * classic global-sort scale-killer): docs cumsum WITHIN a
    * deterministic bucket (`doc_id DIV bucket` — arithmetic, not
    * sampled boundaries); per-bucket totals cumsum WITHIN a
    * super-bucket (`bkt DIV superFactor`); and only the SUPER-bucket
    * totals — n/(bucket·superFactor) rows, 2.4 k rows even at 10^10
    * docs with the defaults — ride the one unbounded single-partition
    * window. The bucket-offset relation then joins back WITHOUT a
    * forced broadcast (r11 verdict #4: `broadcast(boff)` at 10^10 docs
    * forced ~2.4 GB past the broadcast threshold) — the planner
    * broadcasts it while it is small and shuffle-joins it when it is
    * not; the two widths are [[PackBucket]] and [[PackSuperFactor]].
    * The OUTPUT is bucket-invariant (st/en are the same global offsets
    * at any width), so the widths are plumbing, never semantics — the
    * oracle states the offsets with the same widths, and
    * [[hierarchicalOffsets]] is swept over others by its suite. The
    * corpus shuffles once (hash on bucket, with map-side partial
    * windows bounded at `bucket` rows). Everything is exact
    * integer arithmetic — counts, cumulative sums, DIV/greatest/least
    * span clipping — so the assignment is bit-identical on any engine,
    * any partitioning, any cluster size. */
  val PackBudget = 512L
  val PackBucket = 64L
  val PackSuperFactor = 4096L

  /** The three-level exact prefix sum behind [[packSequences]], over an
    * (id, n, bkt) relation: global running-sum END offset per row, in
    * (bkt, id) order == id order. Exposed for suite-level width sweeps
    * (the output must be identical at ANY positive widths). */
  private[graft] def hierarchicalOffsets(q: DataFrame,
      superFactor: Long): DataFrame = {
    val wLoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // level 2: bucket totals cumsum WITHIN their super-bucket — bounded
    // at superFactor rows per window partition
    val wSb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sbkt")).orderBy(col("bkt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // level 3: THE unbounded window — super-bucket totals only
    val wS = org.apache.spark.sql.expressions.Window
      .orderBy(col("sbkt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val loc = q.withColumn("loc_end", sum(col("n_tokens")).over(wLoc))
    val bt = q.groupBy(col("bkt")).agg(sum(col("n_tokens")).as("bt"))
      .withColumn("sbkt", expr(s"CAST(bkt DIV $superFactor AS BIGINT)"))
    val btLoc = bt.withColumn("in_off",
      coalesce(sum(col("bt")).over(wSb), lit(0L)))
    val soff = bt.groupBy(col("sbkt")).agg(sum(col("bt")).as("sbt"))
      .select(col("sbkt"), coalesce(sum(col("sbt")).over(wS), lit(0L)).as("s_off"))
    // soff is metadata-sized — the planner broadcasts it on its own;
    // boff joins loc un-hinted (broadcast while small, shuffle at scale)
    val boff = btLoc.join(soff, Seq("sbkt"))
      .select(col("bkt"), (col("s_off") + col("in_off")).as("bkt_off"))
    loc.join(boff, Seq("bkt"))
      .select(col("doc_id"), col("n_tokens"),
        (col("bkt_off") + col("loc_end") - col("n_tokens")).as("st"),
        (col("bkt_off") + col("loc_end")).as("en"))
  }
  val packSequences: QueryDef = QueryDef.sql(
    "pipe_pack_sequences",
    s"""WITH q AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) + 1 AS BIGINT) AS n_tokens,
      |    doc_id // $PackBucket AS bkt
      |  FROM documents),
      |loc AS (
      |  SELECT doc_id, n_tokens, bkt,
      |    CAST(sum(n_tokens) OVER (PARTITION BY bkt ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS loc_end
      |  FROM q),
      |boff AS (
      |  SELECT bkt,
      |    CAST(coalesce(sum(bt) OVER (ORDER BY bkt
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS bkt_off
      |  FROM (SELECT bkt, sum(n_tokens) AS bt FROM q GROUP BY bkt) t),
      |pos AS (
      |  SELECT l.doc_id, l.n_tokens,
      |    b.bkt_off + l.loc_end - l.n_tokens AS st,
      |    b.bkt_off + l.loc_end AS en
      |  FROM loc l JOIN boff b USING (bkt)),
      |asg AS (
      |  SELECT doc_id, n_tokens, st, en,
      |    unnest(generate_series(st // $PackBudget, (en - 1) // $PackBudget))
      |      AS seq_id
      |  FROM pos)
      |SELECT seq_id, doc_id,
      |  greatest(st, seq_id * $PackBudget) - seq_id * $PackBudget AS seq_off,
      |  least(en, (seq_id + 1) * $PackBudget)
      |    - greatest(st, seq_id * $PackBudget) AS span_len,
      |  n_tokens,
      |  CAST(CASE WHEN (en - 1) // $PackBudget > st // $PackBudget
      |    THEN 1 ELSE 0 END AS BIGINT) AS is_split
      |FROM asg
      |ORDER BY seq_id, doc_id""".stripMargin) { (s, d) =>
    val q = Tables.documents(s, d).select(col("doc_id"),
      (size(split(col("text"), " ")) + 1).cast("long").as("n_tokens"),
      expr(s"CAST(doc_id DIV $PackBucket AS BIGINT)").as("bkt"))
    val pos = hierarchicalOffsets(q, PackSuperFactor)
    pos
      .select(col("doc_id"), col("n_tokens"), col("st"), col("en"),
        explode(expr(s"sequence(st DIV $PackBudget, (en - 1) DIV $PackBudget)"))
          .as("seq_id"))
      .select(col("seq_id"), col("doc_id"),
        (greatest(col("st"), col("seq_id") * PackBudget)
          - col("seq_id") * PackBudget).as("seq_off"),
        (least(col("en"), (col("seq_id") + 1) * PackBudget)
          - greatest(col("st"), col("seq_id") * PackBudget)).as("span_len"),
        col("n_tokens"),
        when(expr(s"(en - 1) DIV $PackBudget > st DIV $PackBudget"), 1L)
          .otherwise(0L).as("is_split"))
      .orderBy(col("seq_id"), col("doc_id"))
  }

  val all: Seq[QueryDef] =
    Seq(corpusClean, domainMix, compact, decontaminate, decontaminateBloom,
      trainSplit, profile, shuffleShard, contaminationScore, tokenBudget,
      dsirSelect, packSequences, leakageSplit)
}
