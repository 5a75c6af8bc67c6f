package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (north star; SURVEY §2.14): image/audio/
  * video as opaque `binary` payloads with typed metadata, plus the
  * decode / feature-extract / resize / frame-sample operators a training
  * pipeline needs.
  *
  * The actual codecs (libjpeg etc.) are NOT in this container, so the
  * byte-level decode is a clearly-marked deterministic STUB: payloads
  * follow a planted header convention (4-byte big-endian width/height)
  * and a formulaic body (`byte[i] = (media_id·31 + i) mod 251`), standing
  * in for real image data. Everything around the stub is real and tested:
  * the binary schema, the typed metadata struct, partition-preserving
  * batched processing (`mapPartitions` over row batches — the Scala
  * analogue of `mapInPandas` batch shape), and the explode of sampled
  * frames. Because the payload is formulaic, the DuckDB oracle can verify
  * the *binary round-trip* (Spark decodes real bytes; the oracle
  * recomputes the same checksums from pure arithmetic).
  *
  * Scale notes (100 TB of media): payloads never pass through the driver;
  * decode/extract are narrow map-side transforms; frame explode is the
  * only fan-out and carries its own frame ids for downstream shuffles.
  */
object Multimodal {

  private val BodyMod = 251
  private val BlockHashMod = 1000000007L
  private val FrameSize = 256

  /** Deterministic synthetic media over documents: kind by id mod 3,
    * planted header (width, height), formulaic body of width·height bytes
    * (capped for 'video' which gets 4·FrameSize so frame sampling has
    * multiple frames). */
  def syntheticMedia(docs: DataFrame): DataFrame = {
    val makePayload = udf { (id: Long, w: Int, h: Int, bodyLen: Int) =>
      val out = new Array[Byte](4 + bodyLen)
      out(0) = ((w >> 8) & 0xff).toByte
      out(1) = (w & 0xff).toByte
      out(2) = ((h >> 8) & 0xff).toByte
      out(3) = (h & 0xff).toByte
      var i = 0
      while (i < bodyLen) {
        out(4 + i) = (((id * 31 + i) % BodyMod) & 0xff).toByte
        i += 1
      }
      out
    }
    docs.select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        (lit(16) + col("doc_id") % 48).cast("int").as("w"),
        (lit(16) + (col("doc_id") * 7) % 32).cast("int").as("h"))
      .withColumn("body_len",
        when(col("kind") === "video", lit(4 * FrameSize))
          .otherwise(col("w") * col("h")).cast("int"))
      .select(col("media_id"), col("kind"),
        makePayload(col("media_id"), col("w"), col("h"), col("body_len"))
          .as("payload"),
        struct(col("w").as("width"), col("h").as("height"),
          lit("stub/v1").as("format")).as("meta"))
  }

  /** STUB decoder: parses the planted 4-byte header and checksums the
    * body from the actual binary — the stand-in for a real image decode.
    * Output: (width, height, body_len, byte_sum). */
  def decodeStub(media: DataFrame): DataFrame = {
    val decode = udf { (payload: Array[Byte]) =>
      // ??? real codec goes here; this parses the stub header convention.
      val w = ((payload(0) & 0xff) << 8) | (payload(1) & 0xff)
      val h = ((payload(2) & 0xff) << 8) | (payload(3) & 0xff)
      var s = 0L
      var i = 4
      while (i < payload.length) { s += (payload(i) & 0xff); i += 1 }
      (w, h, payload.length - 4, s)
    }
    media.withColumn("dec", decode(col("payload")))
      .select(col("media_id"), col("kind"),
        col("dec._1").as("width"), col("dec._2").as("height"),
        col("dec._3").as("body_len"), col("dec._4").as("byte_sum"))
  }

  /** Batched feature extraction via mapPartitions — the Scala analogue of
    * mapInPandas: rows stream through in batches of `batchSize`, each
    * batch is processed as a block (stand-in for a vectorized model
    * forward pass), partitioning is preserved (no shuffle). Returns
    * (media_id, features: Array[Float] of 8). */
  def extractFeatures(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false))))
    val rows = media.select(col("media_id"), col("payload")).rdd
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // Batch-shaped processing: all payloads of the batch visible at
          // once, mirroring a vectorized decode+embed call.
          batch.map { r =>
            val id = r.getLong(0)
            val p = r.getAs[Array[Byte]](1)
            val feats = Array.tabulate(8) { f =>
              var s = 0L
              var i = 4 + f
              while (i < p.length) { s += (p(i) & 0xff); i += 8 }
              (s % 997).toFloat / 997.0f
            }
            Row(id, feats)
          }
        }
      }
    spark.createDataFrame(rows, outSchema)
  }

  /** Frame sampling for video payloads: explode fixed-size body chunks
    * with frame indices (the binary-side G1 analogue). */
  def frameSample(media: DataFrame): DataFrame = {
    val frames = udf { (payload: Array[Byte]) =>
      payload.drop(4).grouped(FrameSize).zipWithIndex
        .map { case (bytes, idx) => (idx, bytes.length, bytes.map(_ & 0xff).map(_.toLong).sum) }
        .toSeq
    }
    media.filter(col("kind") === "video")
      .select(col("media_id"), explode(frames(col("payload"))).as("f"))
      .select(col("media_id"), col("f._1").as("frame_idx"),
        col("f._2").as("frame_len"), col("f._3").as("byte_sum"))
  }

  /** Resize stub: metadata transform + payload truncation to the new
    * dims, preserving the header convention. */
  def resizeStub(media: DataFrame, newW: Int, newH: Int): DataFrame = {
    val resize = udf { (payload: Array[Byte], w: Int, h: Int) =>
      val out = new Array[Byte](4 + math.min(payload.length - 4, w * h))
      out(0) = ((w >> 8) & 0xff).toByte; out(1) = (w & 0xff).toByte
      out(2) = ((h >> 8) & 0xff).toByte; out(3) = (h & 0xff).toByte
      System.arraycopy(payload, 4, out, 4, out.length - 4)
      out
    }
    media.withColumn("payload", resize(col("payload"), lit(newW), lit(newH)))
      .withColumn("meta", struct(lit(newW).as("width"), lit(newH).as("height"),
        lit("stub/v1").as("format")))
  }

  /** Binary round-trip check: Spark decodes REAL bytes, the oracle
    * recomputes the checksums from the planting formula — if the binary
    * plumbing (write, schema, header packing, byte order) broke anywhere,
    * the sums diverge. */
  val decodeMeta: QueryDef = QueryDef.sql(
    "mm_decode_meta",
    s"""WITH m AS (
      |  SELECT doc_id AS media_id,
      |    ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
      |    CAST(16 + doc_id % 48 AS INT) AS width,
      |    CAST(16 + (doc_id * 7) % 32 AS INT) AS height
      |  FROM documents),
      |m2 AS (
      |  SELECT media_id, kind, width, height,
      |    CASE WHEN kind = 'video' THEN ${4 * FrameSize}
      |         ELSE width * height END AS body_len
      |  FROM m)
      |SELECT media_id, kind, width, height, body_len,
      |  CAST((SELECT sum((m2.media_id * 31 + u.i) % $BodyMod)
      |        FROM unnest(generate_series(0, m2.body_len - 1)) u(i)) AS BIGINT)
      |    AS byte_sum
      |FROM m2
      |ORDER BY media_id""".stripMargin) { (s, d) =>
    decodeStub(syntheticMedia(Tables.documents(s, d)))
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("body_len"), col("byte_sum"))
      .orderBy(col("media_id"))
  }

  /** Frame-sample round-trip: per-frame lengths and checksums vs the
    * planting formula. */
  val frames: QueryDef = QueryDef.sql(
    "mm_frame_sample",
    s"""WITH v AS (
      |  SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 2),
      |fr AS (
      |  SELECT media_id, u.f AS frame_idx
      |  FROM v, unnest(generate_series(0, 3)) u(f))
      |SELECT media_id, frame_idx, $FrameSize AS frame_len,
      |  CAST((SELECT sum((fr.media_id * 31 + i) % $BodyMod)
      |        FROM unnest(generate_series(fr.frame_idx * $FrameSize,
      |                    (fr.frame_idx + 1) * $FrameSize - 1)) u2(i)) AS BIGINT)
      |    AS byte_sum
      |FROM fr
      |ORDER BY media_id, frame_idx""".stripMargin) { (s, d) =>
    frameSample(syntheticMedia(Tables.documents(s, d)))
      .select(col("media_id"), col("frame_idx"),
        col("frame_len").cast("int").as("frame_len"), col("byte_sum"))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Batched feature extraction, hash-checked (upgraded from r1's
    * rows-only, which also crashed the driver harness with its list
    * column). Each feature is `(s % 997)/997` in float32 with
    * `s % 997 < 997 << 2^24`, so `round(f·997)` recovers the exact
    * integer checksum — the oracle recomputes it from the planting
    * formula, pinning the whole batched mapPartitions path bit-for-bit
    * while the output stays scalar-typed. The raw float vector remains
    * covered by the ScalaTest spec. */
  val features: QueryDef = QueryDef.sql(
    "mm_features",
    s"""WITH m AS (
      |  SELECT doc_id AS media_id,
      |    ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
      |    CAST(16 + doc_id % 48 AS INT) AS width,
      |    CAST(16 + (doc_id * 7) % 32 AS INT) AS height
      |  FROM documents),
      |m2 AS (
      |  SELECT media_id,
      |    CASE WHEN kind = 'video' THEN ${4 * FrameSize}
      |         ELSE width * height END AS body_len
      |  FROM m)
      |SELECT media_id,
      |  ${(0 until 8).map(f =>
           s"CAST((SELECT sum((m2.media_id * 31 + u.i) % $BodyMod) " +
           s"FROM unnest(generate_series($f, m2.body_len - 1, 8)) u(i)) % 997 AS BIGINT) AS feat$f")
           .mkString(",\n      |  ")}
      |FROM m2
      |ORDER BY media_id""".stripMargin) { (s, d) =>
    extractFeatures(syntheticMedia(Tables.documents(s, d)))
      .select(col("media_id") +: (0 until 8).map(f =>
        round(element_at(col("features"), f + 1) * 997.0)
          .cast("long").as(s"feat$f")): _*)
      .orderBy(col("media_id"))
  }

  /** Resize round-trip: resize every payload to 8×8 (header rewritten,
    * body truncated to 64 bytes), then decode — widths/heights must read
    * back as the new dims and the byte sum must cover exactly the
    * truncated prefix of the planted body. Pins the resize operator's
    * header packing + truncation arithmetic at the driver gate (it was
    * previously suite-only). */
  val resize: QueryDef = QueryDef.sql(
    "mm_resize",
    s"""WITH m AS (
      |  SELECT doc_id AS media_id,
      |    ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind
      |  FROM documents)
      |SELECT media_id, kind, 8 AS width, 8 AS height, 64 AS body_len,
      |  CAST((SELECT sum((m.media_id * 31 + u.i) % $BodyMod)
      |        FROM unnest(generate_series(0, 63)) u(i)) AS BIGINT)
      |    AS byte_sum
      |FROM m
      |ORDER BY media_id""".stripMargin) { (s, d) =>
    decodeStub(resizeStub(syntheticMedia(Tables.documents(s, d)), 8, 8))
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("body_len"), col("byte_sum"))
      .orderBy(col("media_id"))
  }

  /** EXACT BINARY DEDUP of media payloads — content-addressed dedup on
    * the bytes themselves: every payload reduces map-side to a
    * fixed-width content key, one shuffle groups identical keys, copies
    * collapse to a canonical id + member list. The 100 TB property:
    * PAYLOADS NEVER SHUFFLE — only the few-dozen-byte key moves, so
    * deduping a petabyte of media costs a scan plus a key-sized
    * exchange (the dedup_exact plan applied to binary columns).
    *
    * The GROUPING key is the codegen'd built-in `md5(payload)` —
    * collision-proof over the actual bytes, no Scala UDF anywhere in
    * the key path (r7, verdict: the r6 arithmetic-tuple key could in
    * principle collide where md5 cannot). The arithmetic checksums
    * (body_len, byte_sum, weighted sum mod 1e9+7) remain as OUTPUT
    * columns, computed natively from the same bytes via the
    * `binary_bytes` codegen expression (one O(n) decode to array<int>,
    * then O(1) `element_at` per position — expression-only, no UDF):
    * they are the oracle-reproducible
    * channel (the mm checksum convention — the oracle recomputes them
    * from the planting formula, so a corrupted byte anywhere in the
    * write/read path still breaks the hash match).
    *
    * The ORACLE's group key must model payload EQUALITY exactly. The
    * payload is header(width, height) + body, and the body bytes are
    * `(src·31 + i) mod 251` — fully determined by (phase = src·31 mod
    * 251, body_len). So the oracle groups on (kind, width, height,
    * body_len, phase): precisely the payload-equal classes. r9 fix —
    * the earlier oracle grouped on (kind, body_len, byte_sum, wsum)
    * alone, which ignores the header and aliases bodies with equal
    * sums; fine at sf0.01's id range, but at sf0.1 ids congruent mod
    * 251 produce equal-body different-header payloads and the oracle
    * over-merged (622 groups vs the correct 500). The checksums stay
    * as verified OUTPUT columns. */
  val binaryDedup: QueryDef = QueryDef.sql(
    "mm_binary_dedup",
    s"""WITH m AS (
      |  SELECT doc_id AS media_id,
      |    ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
      |    CAST(16 + doc_id % 48 AS INT) AS width,
      |    CAST(16 + (doc_id * 7) % 32 AS INT) AS height
      |  FROM documents),
      |m2 AS (
      |  SELECT media_id, kind, width, height,
      |    CASE WHEN kind = 'video' THEN ${4 * FrameSize}
      |         ELSE width * height END AS body_len
      |  FROM m),
      |corpus AS (
      |  SELECT media_id, media_id AS src, kind, width, height, body_len
      |  FROM m2
      |  UNION ALL
      |  SELECT media_id + 10000 AS media_id, media_id AS src, kind,
      |    width, height, body_len
      |  FROM m2 WHERE media_id % 10 = 0),
      |keyed AS (
      |  SELECT media_id, kind, width, height, body_len,
      |    (c.src * 31) % $BodyMod AS phase,
      |    CAST((SELECT sum((c.src * 31 + u.i) % $BodyMod)
      |          FROM unnest(generate_series(0, c.body_len - 1)) u(i)) AS BIGINT)
      |      AS byte_sum,
      |    CAST((SELECT sum((u.i + 1) * ((c.src * 31 + u.i) % $BodyMod))
      |          FROM unnest(generate_series(0, c.body_len - 1)) u(i))
      |      % 1000000007 AS BIGINT) AS wsum
      |  FROM corpus c)
      |SELECT min(media_id) AS canonical, count(*) AS n_copies,
      |  array_to_string(list_sort(list(media_id)), ',') AS members,
      |  kind, body_len, byte_sum, wsum
      |FROM keyed
      |GROUP BY kind, width, height, phase, body_len, byte_sum, wsum
      |HAVING count(*) > 1
      |ORDER BY canonical""".stripMargin) { (s, d) =>
    val media = syntheticMedia(Tables.documents(s, d))
      .select(col("media_id"), col("kind"), col("payload"))
    val corpus = media.unionAll(
      media.filter(col("media_id") % 10 === 0)
        .select((col("media_id") + 10000).as("media_id"), col("kind"),
          col("payload")))
    // payload bytes decoded ONCE into array<int> by the native
    // binary_bytes expression (O(n) codegen; the previous
    // hex()+positional-substr channel re-walked the hex string per
    // byte — O(n²), ~100 s of the sf0.1 bench); byte access below is
    // O(1) element_at. Still expression-only — no UDF anywhere.
    // checksums over body positions 5..len; the weighted sum's unreduced
    // value stays far below int64 (≤ ~3000 terms of ≤ 255·len each), so
    // one end mod equals the oracle's iterative mod
    def byteAt(p: Column): Column =
      element_at(col("bytes"), p.cast("int")).cast("long")
    val keyed = corpus
      .withColumn("bytes", expr("binary_bytes(payload)"))
      .select(col("media_id"), col("kind"),
        md5(col("payload")).as("content_md5"),
        (length(col("payload")) - 4).cast("bigint").as("body_len"),
        aggregate(sequence(lit(5), length(col("payload"))),
          lit(0L), (acc, p) => acc + byteAt(p)).as("byte_sum"),
        (aggregate(sequence(lit(5), length(col("payload"))),
          lit(0L), (acc, p) => acc + (p - 4).cast("bigint") * byteAt(p))
          % 1000000007L).as("wsum"))
    keyed
      .groupBy(col("kind"), col("content_md5"))
      .agg(min(col("media_id")).as("canonical"),
        count(lit(1)).as("n_copies"),
        array_join(transform(sort_array(collect_list(col("media_id"))),
          _.cast("string")), ",").as("members"),
        min(col("body_len")).as("body_len"),
        min(col("byte_sum")).as("byte_sum"),
        min(col("wsum")).as("wsum"))
      .filter(col("n_copies") > 1)
      .select(col("canonical"), col("n_copies"), col("members"),
        col("kind"), col("body_len"), col("byte_sum"), col("wsum"))
      .orderBy(col("canonical"))
  }

  /** PIECEWISE FUZZY-HASH NEAR-DUP of media payloads — the ssdeep/CTPH
    * (context-triggered piecewise hashing) family next to
    * [[binaryDedup]]'s exact md5 matching: the payload body splits into
    * 64 equal blocks, each block folds to ONE signature bit via a
    * nonlinear rolling hash (byte² terms — a purely linear hash would
    * inherit the stub generator's cross-id correlation and light up
    * everything; squaring diffuses it, measured unrelated-pair Hamming
    * mean 32/64, min 19), and payloads are near-dups when their 64-bit
    * signatures differ in ≤ 7 bits. A localized corruption — a
    * re-encode artifact, a stripped metadata run, the planted
    * single-byte flip here — touches one block, so one bit, while
    * md5-exact dedup misses it entirely.
    *
    * Candidate generation is pigeonhole-EXACT: 8 bands of 8 bits; ≤ 7
    * differing bits cannot cover all 8 bands, so every qualifying pair
    * shares a band and surfaces from the (band, value) equi-join — the
    * simHashBanded argument on binary columns. 100 TB shape: signatures
    * compute map-side from the bytes (payloads never shuffle — only the
    * 8-byte signature moves), candidates are bounded bucket equi-joins,
    * verification touches only candidate signature pairs.
    *
    * Beyond the 50 planted pairs, the operator surfaces 4 genuine finds
    * the exact path cannot: generator sources congruent mod 251 emit
    * byte-identical BODIES under different headers (a 1024-byte video
    * body equals a 32×32 image body), hamming 0-1 — body-level dups
    * that md5-over-payload misses because the headers differ. */
  val fuzzyDedup: QueryDef = QueryDef.sql(
      "mm_fuzzy_dedup",
      s"""WITH m AS (
        |  SELECT doc_id AS media_id,
        |    ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
        |    CAST(16 + doc_id % 48 AS INT) AS width,
        |    CAST(16 + (doc_id * 7) % 32 AS INT) AS height
        |  FROM documents),
        |m2 AS (
        |  SELECT media_id,
        |    CASE WHEN kind = 'video' THEN ${4 * FrameSize}
        |         ELSE width * height END AS body_len
        |  FROM m),
        |corpus AS (
        |  SELECT media_id, media_id AS src, body_len, 0 AS pert FROM m2
        |  UNION ALL
        |  SELECT media_id + 10000 AS media_id, media_id AS src, body_len, 1 AS pert
        |  FROM m2 WHERE media_id % 10 = 0),
        |blocks AS (
        |  SELECT c.media_id, u.j AS j,
        |    list_reduce(
        |      [CAST(0 AS BIGINT)] ||
        |      list_transform(generate_series(u.j * c.body_len // 64,
        |                                     (u.j + 1) * c.body_len // 64 - 1),
        |        k -> CAST((c.src * 31 + k) % $BodyMod +
        |             CASE WHEN c.pert = 1 AND k = 100 THEN 1 ELSE 0 END AS BIGINT)),
        |      (h, v) -> (h * 131 + v * v) % $BlockHashMod) AS bh
        |  FROM corpus c CROSS JOIN LATERAL unnest(generate_series(0, 63)) u(j)),
        |bands AS (
        |  SELECT media_id, j // 8 AS bi,
        |    CAST(sum((bh % 2) << (j % 8)) AS BIGINT) AS bv
        |  FROM blocks GROUP BY media_id, j // 8),
        |cand AS (
        |  SELECT DISTINCT a.media_id AS ida, b.media_id AS idb
        |  FROM bands a JOIN bands b
        |    ON a.bi = b.bi AND a.bv = b.bv AND a.media_id < b.media_id),
        |ham AS (
        |  SELECT c.ida, c.idb, CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN bands x ON x.media_id = c.ida
        |  JOIN bands y ON y.media_id = c.idb AND y.bi = x.bi
        |  GROUP BY c.ida, c.idb)
        |SELECT ida, idb, hamming FROM ham WHERE hamming <= 7
        |ORDER BY ida, idb""".stripMargin)(fuzzyDedupPairs(_, _, None))

  /** The [[fuzzyDedup]] query with the [[HammingBands.pairs]] `route`
    * as an argument: `None` dispatches (the query), a pin fixes the
    * plan (plan audits). */
  private[graft] def fuzzyDedupPairs(s: SparkSession, d: String,
      route: Option[Boolean]): DataFrame = {
    val media = syntheticMedia(Tables.documents(s, d))
      .select(col("media_id"), expr("binary_bytes(payload)").as("bytes"),
        (length(col("payload")) - 4).cast("long").as("n"))
    // near-dup plant: every 10th payload gets a copy with ONE corrupted
    // body byte (position 100; bytes are <= 250, +1 never overflows)
    val corpus = media.select(col("media_id"), col("bytes"), col("n"),
        lit(0).as("pert"))
      .unionAll(media.filter(col("media_id") % 10 === 0)
        .select((col("media_id") + 10000).as("media_id"), col("bytes"),
          col("n"), lit(1).as("pert")))
    // body byte at 0-based body position k — O(1) element_at into the
    // native binary_bytes decode (the hex+substr channel this replaced
    // was O(n) per access, O(n²) per payload) — plus the plant
    def byteAt(k: Column): Column =
      element_at(col("bytes"), (k + 5).cast("int")).cast("long") +
        when(col("pert") === 1 && k === 100L, 1L).otherwise(0L)
    // block j in [0,64): nonlinear fold over positions [j·n/64,(j+1)·n/64)
    // (products stay exact in the double floor: j·n <= 64·3072)
    def blockHash(j: Column): Column =
      aggregate(
        sequence(floor(j * col("n") / 64.0).cast("long"),
          floor((j + 1) * col("n") / 64.0).cast("long") - 1),
        lit(0L), (h, k) => (h * 131L + byteAt(k) * byteAt(k)) % BlockHashMod)
    val pows = array((0 until 8).map(i => lit(1L << i)): _*)
    // pinned eagerly (r16 verdict #1): the per-byte band signature is
    // the query's dominant cost and HammingBands.pairs consumes it
    // more than once — a lazy persist let concurrent consumers (or an
    // eviction) recompute the whole byte scan
    val sigs = graft.InternalCaches.pinEager(corpus
      .select(col("media_id"),
        transform(sequence(lit(0L), lit(7L)), b =>
          aggregate(sequence(lit(0L), lit(7L)), lit(0L),
            (a, k) => a + (blockHash(b * 8 + k) % 2L) *
              element_at(pows, (k + 1).cast("int")))).as("bands")))
    // collapse + density dispatch ([[HammingBands]]): exact twins
    // (the densification adversary — this family ran 26.2× at the
    // r11 10× fixture) collapse to one signature before any pairing;
    // candidates among UNIQUE signatures route brute vs banded from
    // one measured metadata-sized aggregate. Route-invariant: the
    // all-pairs oracle above is exact for every route.
    HammingBands.pairs(sigs, "media_id", "bands", 8, 7, "mm_fuzzy_dedup",
      route)
      .select(col("id1").as("ida"), col("id2").as("idb"), col("hamming"))
      .orderBy(col("ida"), col("idb"))
  }

  /** TEXT–MEDIA ALIGNMENT SCORING — the CLIP-filtering analogue: a
    * multimodal corpus keeps a (media, caption) pair only when the two
    * embeddings' cosine clears a bar, and the standard health check is
    * CONTRASTIVE — the matched pair must score above a decoy pairing.
    * Here the media embedding is the real batched-extraction path
    * ([[extractFeatures]]'s mapPartitions over the actual payload
    * bytes, its float components recovered to exact ints via the
    * mm_features `round(f·997)` convention) and the text embedding is
    * an 8-bin token sketch (tokens bucketed by a char-arithmetic hash
    * — deterministic, engine-independent); a real deployment swaps
    * both for model embeddings, and every join/score/rank around them
    * is unchanged. Both vectors get +1 per component (strict
    * positivity: no zero-vector division anywhere, on any corpus).
    * Output per doc: cosine to its OWN text and to a decoy (the next
    * doc's text), both exact-integer dot products until the one final
    * sqrt/divide, rounded to 6.
    *
    * 100 TB shape: both embeddings compute map-side; the own-pair and
    * decoy joins are 1:1 key equi-joins (co-partitionable on doc id) —
    * no fan-out, no broadcast needed, payloads never shuffle. */
  val textAlign: QueryDef = QueryDef.sql(
    "mm_text_align",
    s"""WITH m AS (
      |  SELECT doc_id AS media_id,
      |    ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
      |    CAST(16 + doc_id % 48 AS INT) AS width,
      |    CAST(16 + (doc_id * 7) % 32 AS INT) AS height
      |  FROM documents),
      |m2 AS (
      |  SELECT media_id,
      |    CASE WHEN kind = 'video' THEN ${4 * FrameSize}
      |         ELSE width * height END AS body_len
      |  FROM m),
      |mf AS (
      |  SELECT media_id,
      |  ${(0 until 8).map(f =>
           s"1 + CAST((SELECT sum((m2.media_id * 31 + u.i) % $BodyMod) " +
           s"FROM unnest(generate_series($f, m2.body_len - 1, 8)) u(i)) % 997 AS BIGINT) AS mf$f")
           .mkString(",\n      |  ")}
      |  FROM m2),
      |tf AS (
      |  SELECT doc_id,
      |  ${(0 until 8).map(f =>
           s"1 + len(list_filter(string_split(text, ' '), " +
           s"x -> (length(x) * 31 + ascii(substr(x, 1, 1))) % 8 = $f)) AS tf$f")
           .mkString(",\n      |  ")}
      |  FROM documents)
      |SELECT mf.media_id,
      |  floor((${(0 until 8).map(f => s"mf.mf$f * o.tf$f").mkString(" + ")})
      |    / (sqrt(${(0 until 8).map(f => s"mf.mf$f * mf.mf$f").mkString(" + ")})
      |       * sqrt(${(0 until 8).map(f => s"o.tf$f * o.tf$f").mkString(" + ")}))
      |    * 1e6 + 0.5) / 1e6 AS align_own,
      |  floor((${(0 until 8).map(f => s"mf.mf$f * dc.tf$f").mkString(" + ")})
      |    / (sqrt(${(0 until 8).map(f => s"mf.mf$f * mf.mf$f").mkString(" + ")})
      |       * sqrt(${(0 until 8).map(f => s"dc.tf$f * dc.tf$f").mkString(" + ")}))
      |    * 1e6 + 0.5) / 1e6 AS align_decoy
      |FROM mf
      |JOIN tf o ON o.doc_id = mf.media_id
      |JOIN tf dc ON dc.doc_id = mf.media_id + 1
      |ORDER BY media_id""".stripMargin) { (s, d) =>
    // media side: REAL bytes through the batched extractor; exact ints
    val mf = extractFeatures(syntheticMedia(Tables.documents(s, d)))
      .select(col("media_id") +: (0 until 8).map(f =>
        (round(element_at(col("features"), f + 1) * 997.0).cast("long") + 1L)
          .as(s"mf$f")): _*)
    // text side: 8-bin token sketch, +1 per bin
    val tf = Tables.documents(s, d)
      .select(col("doc_id") +: (0 until 8).map(f =>
        (expr(s"size(filter(split(text, ' '), " +
          s"x -> (length(x) * 31 + ascii(substr(x, 1, 1))) % 8 = $f))")
          .cast("long") + 1L).as(s"tf$f")): _*)
    def dot(a: String, b: String) =
      (0 until 8).map(f => col(s"$a$f") * col(s"$b$f")).reduce(_ + _)
    def nrm(a: String) =
      sqrt((0 until 8).map(f => col(s"$a$f") * col(s"$a$f")).reduce(_ + _)
        .cast("double"))
    val own = tf
    val decoy = tf.select((col("doc_id") - 1).as("media_id") +:
      (0 until 8).map(f => col(s"tf$f").as(s"df$f")): _*)
    mf.join(own, col("media_id") === col("doc_id"))
      .join(decoy, Seq("media_id"))
      .select(col("media_id"),
        (floor(dot("mf", "tf").cast("double") / (nrm("mf") * nrm("tf"))
          * 1e6 + 0.5) / 1e6).as("align_own"),
        (floor(dot("mf", "df").cast("double") / (nrm("mf") * nrm("df"))
          * 1e6 + 0.5) / 1e6).as("align_decoy"))
      .orderBy(col("media_id"))
  }

  /** PERCEPTUAL-HASH image near-dup (the aHash family: pHash/aHash/
    * dHash): each image's decoded pixel grid is partitioned into an
    * 8×8 grid of cells, each cell's mean brightness is compared to the
    * image's global mean, and the 64 resulting bits form the perceptual
    * signature — two images are near-dups when the signatures' Hamming
    * distance is small. Unlike [[fuzzyDedup]] (byte-stream CTPH — any
    * payload, no notion of pixels), this operates on the DECODED 2-D
    * grid with spatial block averaging, which buys the family's
    * signature property: a global brightness shift changes every cell
    * mean and the global mean by the same amount, so the hash is
    * EXACTLY invariant (the planted +3-brightness copies land at
    * Hamming 0 — md5 and byte-CTPH both see them as different media).
    * The mean comparison is exact integer cross-multiplication
    * (cell_sum·total_px vs total_sum·cell_px) — no FP anywhere.
    *
    * Spark reads REAL payload bytes (`binary_bytes` O(1) element
    * access); the oracle recomputes the same pixels from the planting
    * formula — the binary plumbing stays end-to-end checked. The
    * signature computes entirely map-side per image (nested HOF folds,
    * one O(n) pixel pass — no pixel explode, no shuffle); the only
    * shuffles are the 8-bit band-bucket candidate equi-join and the
    * bounded Hamming verify join, exactly the [[fuzzyDedup]] 100 TB
    * shape. */
  val phashDedup: QueryDef = QueryDef.sql(
      "mm_phash_dedup",
      s"""WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CAST(16 + doc_id % 48 AS INT) AS w,
        |    CAST(16 + (doc_id * 7) % 32 AS INT) AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |corpus AS (
        |  SELECT media_id, media_id AS src, w, h, 0 AS pert FROM m
        |  UNION ALL
        |  SELECT media_id + 10000 AS media_id, media_id AS src, w, h, 1 AS pert
        |  FROM m WHERE media_id % 30 = 0),
        |cells AS (
        |  SELECT media_id, u.c AS c,
        |    list_reduce([CAST(0 AS BIGINT)] || list_transform(
        |      generate_series(((u.c // 8) * h + 7) // 8,
        |                      ((u.c // 8 + 1) * h + 7) // 8 - 1),
        |      y -> list_reduce([CAST(0 AS BIGINT)] || list_transform(
        |             generate_series(((u.c % 8) * w + 7) // 8,
        |                             ((u.c % 8 + 1) * w + 7) // 8 - 1),
        |             x -> CAST((src * 31 + y * w + x) % $BodyMod
        |                       + 3 * pert AS BIGINT)),
        |           (a, b) -> a + b)),
        |      (a, b) -> a + b) AS cs,
        |    (((u.c % 8 + 1) * w + 7) // 8 - ((u.c % 8) * w + 7) // 8)
        |      * (((u.c // 8 + 1) * h + 7) // 8 - ((u.c // 8) * h + 7) // 8)
        |      AS cp,
        |    w * h AS tp
        |  FROM corpus CROSS JOIN LATERAL unnest(generate_series(0, 63)) u(c)),
        |tot AS (
        |  SELECT media_id, CAST(sum(cs) AS BIGINT) AS ts FROM cells
        |  GROUP BY media_id),
        |bands AS (
        |  SELECT c.media_id, c.c // 8 AS bi,
        |    CAST(sum((CASE WHEN c.cs * c.tp > t.ts * c.cp THEN 1 ELSE 0 END)
        |             << (c.c % 8)) AS BIGINT) AS bv
        |  FROM cells c JOIN tot t ON t.media_id = c.media_id
        |  GROUP BY c.media_id, c.c // 8),
        |cand AS (
        |  SELECT DISTINCT a.media_id AS ida, b.media_id AS idb
        |  FROM bands a JOIN bands b
        |    ON a.bi = b.bi AND a.bv = b.bv AND a.media_id < b.media_id),
        |ham AS (
        |  SELECT c.ida, c.idb,
        |    CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN bands x ON x.media_id = c.ida
        |  JOIN bands y ON y.media_id = c.idb AND y.bi = x.bi
        |  GROUP BY c.ida, c.idb)
        |SELECT ida, idb, hamming FROM ham WHERE hamming <= 2
        |ORDER BY ida, idb""".stripMargin)(phashDedupPairs(_, _, None))

  /** The [[phashDedup]] query with the [[HammingBands.pairs]] `route`
    * as an argument: `None` dispatches (the query), a pin fixes the
    * plan (plan audits). */
  private[graft] def phashDedupPairs(s: SparkSession, d: String,
      route: Option[Boolean]): DataFrame = {
    val media = syntheticMedia(Tables.documents(s, d))
      .filter(col("kind") === "image")
      .select(col("media_id"), expr("binary_bytes(payload)").as("bytes"),
        col("meta.width").cast("long").as("w"),
        col("meta.height").cast("long").as("h"))
    val corpus = media.select(col("media_id"), col("bytes"), col("w"),
        col("h"), lit(0L).as("pert"))
      .unionAll(media.filter(col("media_id") % 30 === 0)
        .select((col("media_id") + 10000).as("media_id"), col("bytes"),
          col("w"), col("h"), lit(1L).as("pert")))
    // pixel (x, y), 0-based: real payload byte + the brightness plant
    // (bytes are <= 250; +3 never overflows the 0..255 range)
    def px(x: Column, y: Column): Column =
      element_at(col("bytes"), (y * col("w") + x + 5).cast("int"))
        .cast("long") + lit(3L) * col("pert")
    // cell c in [0,64): rows/cols covering floor(x*8/w) = c%8 etc.
    // (double division is exact at these magnitudes; cast truncates
    // toward zero = floor for the non-negative operands here)
    def lo(i: Column, dim: Column): Column =
      floor((i * dim + 7) / lit(8.0)).cast("long")
    def cellOf(c: Column): Column = {
      val cx = c % 8
      val cy = floor(c / lit(8.0)).cast("long")
      val (x0, x1) = (lo(cx, col("w")), lo(cx + 1, col("w")) - 1)
      val (y0, y1) = (lo(cy, col("h")), lo(cy + 1, col("h")) - 1)
      struct(
        aggregate(sequence(y0, y1), lit(0L), (sy, y) =>
          sy + aggregate(sequence(x0, x1), lit(0L), (sx, x) =>
            sx + px(x, y))).as("cs"),
        ((x1 - x0 + 1) * (y1 - y0 + 1)).as("cp"))
    }
    val pows = array((0 until 8).map(i => lit(1L << i)): _*)
    // pinned eagerly — same rationale as mm_fuzzy_dedup's signature
    val sigs = graft.InternalCaches.pinEager(corpus
      .withColumn("cells",
        transform(sequence(lit(0L), lit(63L)), c => cellOf(c)))
      .withColumn("ts",
        aggregate(col("cells"), lit(0L), (a, x) => a + x.getField("cs")))
      .withColumn("tp", col("w") * col("h"))
      .select(col("media_id"),
        transform(sequence(lit(0L), lit(7L)), bi =>
          aggregate(sequence(lit(0L), lit(7L)), lit(0L), (a, k) => {
            val cell = element_at(col("cells"), (bi * 8 + k + 1).cast("int"))
            val bit = when(cell.getField("cs") * col("tp") >
              col("ts") * cell.getField("cp"), 1L).otherwise(0L)
            a + bit * element_at(pows, (k + 1).cast("int"))
          })).as("bands")))
    // collapse + density dispatch ([[HammingBands]]): the r11 10×
    // densification fixture drove this family 47.5× through the old
    // uncollapsed band join; unique-signature candidate generation
    // plus the measured brute-vs-banded route makes the duplicate
    // flood pure output expansion. Route-invariant oracle.
    HammingBands.pairs(sigs, "media_id", "bands", 8, 2, "mm_phash_dedup",
      route)
      .select(col("id1").as("ida"), col("id2").as("idb"), col("hamming"))
      .orderBy(col("ida"), col("idb"))
  }

  /** CONTENT-DEFINED CHUNKING dedup (the rsync/LBFS/backup-dedup
    * family): chunk boundaries are declared wherever a rolling hash of
    * the last 8 bytes satisfies `h % 16 == 0`, so boundaries are a
    * function of CONTENT, not of byte offsets — after an insertion the
    * chunking re-synchronizes and every chunk beyond the edit hashes
    * identically to the original. Fixed-size blocks lose alignment at
    * the first inserted byte; that re-sync is the entire reason this
    * family exists, and the planted copies (3 bytes spliced into the
    * body at offset 50) prove it: they share almost every chunk with
    * their source except the few spanning the splice. Each media's
    * body is salted by its id so the fixture's cyclic byte formula
    * cannot alias unrelated payloads into shared chunks — sharing then
    * measures true content overlap. Chunks are compared by md5 of the
    * byte run (collision-proof), and the per-media report is the
    * storage-dedup telemetry: chunk count, chunks shared with ≥ 2
    * media, shared fraction.
    *
    * 100 TB shape: chunking runs inside the batched per-payload pass
    * (`mapPartitions`, the module's decoder convention) — payload
    * bytes never shuffle, only (media, chunk-md5, length) facts do;
    * sharing is one groupBy on the chunk hash plus an equi-join back —
    * the exact-dedup plan at chunk granularity. A popular chunk joins
    * 1:1 per occurrence against its aggregated dup row — no pair
    * blowup anywhere. */
  val cdcDedup: QueryDef = QueryDef.sql(
    "mm_cdc_dedup",
    s"""WITH m AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 3 = 2 THEN ${4 * FrameSize}
      |         ELSE CAST(16 + doc_id % 48 AS INT)
      |              * CAST(16 + (doc_id * 7) % 32 AS INT) END AS body_len
      |  FROM documents),
      |corpus0 AS (
      |  SELECT media_id, list_transform(generate_series(0, body_len - 1),
      |    k -> (((media_id * 31 + k) % $BodyMod)
      |          + ((media_id % 256) * k
      |             + (media_id // 256) * ((k * k) % 251)
      |             + media_id) % 256) % 256) AS body
      |  FROM m),
      |corpus AS (
      |  SELECT media_id, body FROM corpus0
      |  UNION ALL
      |  SELECT media_id + 10000 AS media_id,
      |    list_slice(body, 1, 50) || [CAST(7 AS BIGINT), 7, 7]
      |      || list_slice(body, 51, len(body)) AS body
      |  FROM corpus0 WHERE media_id % 10 = 0),
      |px AS (
      |  SELECT media_id, unnest(body) AS b,
      |    generate_subscripts(body, 1) AS pos
      |  FROM corpus),
      |rolled AS (
      |  SELECT media_id, pos, b,
      |    lag(b, 7) OVER w AS l7, lag(b, 6) OVER w AS l6,
      |    lag(b, 5) OVER w AS l5, lag(b, 4) OVER w AS l4,
      |    lag(b, 3) OVER w AS l3, lag(b, 2) OVER w AS l2,
      |    lag(b, 1) OVER w AS l1
      |  FROM px
      |  WINDOW w AS (PARTITION BY media_id ORDER BY pos)),
      |flagged AS (
      |  SELECT media_id, pos, b,
      |    CASE WHEN pos >= 8 AND
      |      (((((((((((((CAST(l7 AS BIGINT) * 131 + l6) % 1000000007)
      |        * 131 + l5) % 1000000007) * 131 + l4) % 1000000007)
      |        * 131 + l3) % 1000000007) * 131 + l2) % 1000000007)
      |        * 131 + l1) % 1000000007) * 131 + b) % 1000000007 % 16 = 0
      |    THEN 1 ELSE 0 END AS flag
      |  FROM rolled),
      |cids AS (
      |  SELECT media_id, pos, b,
      |    coalesce(sum(flag) OVER (PARTITION BY media_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
      |  FROM flagged),
      |chunks AS (
      |  SELECT media_id, cid,
      |    md5(string_agg(CAST(b AS VARCHAR), ',' ORDER BY pos)) AS ch,
      |    count(*) AS clen
      |  FROM cids GROUP BY media_id, cid),
      |shared AS (
      |  SELECT ch FROM chunks WHERE clen >= 8 GROUP BY ch
      |  HAVING count(DISTINCT media_id) >= 2)
      |SELECT c.media_id,
      |  count(*) AS n_chunks,
      |  CAST(sum(CASE WHEN s.ch IS NULL OR c.clen < 8 THEN 0 ELSE 1 END)
      |       AS BIGINT) AS n_shared,
      |  round(sum(CASE WHEN s.ch IS NULL OR c.clen < 8 THEN 0 ELSE 1 END)
      |        * 1.0 / count(*), 6) AS shared_frac
      |FROM chunks c LEFT JOIN shared s ON s.ch = c.ch
      |GROUP BY c.media_id
      |ORDER BY c.media_id""".stripMargin) { (s, d) =>
    val P = 1000000007L
    val media = syntheticMedia(Tables.documents(s, d))
      .select(col("media_id"), expr("binary_bytes(payload)").as("bytes"))
    // body as ints off the REAL payload bytes, mixed with a per-media
    // POSITION-DEPENDENT term: the fixture's cyclic byte formula makes
    // unrelated payloads share long aligned runs (they are windows of
    // one periodic stream), which would alias them into shared chunks.
    // The mix (id·k + (id div 256)·(k² mod 251) + id) mod 256 breaks
    // run alignment for every distinct media pair — the double modulus
    // (251 inside, 256 outside) defeats the position-shift cancellation
    // a pure polynomial mod 256 admits (a k² term's cross-position
    // difference is linear in the offset and can vanish). Copies slice
    // the mixed body, so re-sync after the splice is untouched.
    val base = media.select(col("media_id"),
      transform(slice(col("bytes"), lit(5), size(col("bytes")) - 4),
        (b, k0) => (b.cast("long")
          + ((col("media_id") % 256) * k0.cast("long")
            + floor(col("media_id") / lit(256.0)).cast("long")
              * ((k0.cast("long") * k0.cast("long")) % 251)
            + col("media_id")) % 256) % 256).as("body"))
    val corpus = base.unionAll(
      base.filter(col("media_id") % 10 === 0)
        .select((col("media_id") + 10000).as("media_id"),
          concat(slice(col("body"), 1, 50), array(lit(7L), lit(7L), lit(7L)),
            slice(col("body"), lit(51), size(col("body")) - 50)).as("body")))
    // The chunker runs INSIDE the batched per-payload pass
    // (mapPartitions — the module's batched-decoder convention, like
    // [[extractFeatures]]): rolling hash, boundary detection, and the
    // per-chunk md5 are a tight per-row byte loop, and only the chunk
    // FACTS (media_id, md5, length) ever leave the row — the r7 perf
    // pass replaced a per-byte-position explode through a lag window
    // (6.6M shuffled rows at sf0.1, 13.8 s) with this shape (~3 s).
    // The oracle keeps the relational window formulation: same chunks,
    // row for row.
    val spark = s
    val chunkSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("ch", StringType, nullable = false),
      StructField("clen", LongType, nullable = false)))
    val chunkRows = corpus.select(col("media_id"), col("body")).rdd
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hexDigits = "0123456789abcdef".toCharArray
        // 131^7 mod P per byte value, so the window hash ROLLS (drop the
        // oldest byte, push the new one — 2 mult-mods per position) instead
        // of re-evaluating the 8-term polynomial (8 mult-mods) at every
        // byte. Same mod-P integers, same boundaries; r17 per-task-work
        // pass (guide §1.2 step 2 — this loop is the query's hot path).
        val pow7 = {
          var p7 = 1L
          var t = 0
          while (t < 7) { p7 = (p7 * 131) % P; t += 1 }
          Array.tabulate(256)(b => (b * p7) % P)
        }
        it.flatMap { r =>
          val id = r.getLong(0)
          val bodySeq = r.getSeq[Long](1)
          val n = bodySeq.length
          // one unboxing pass; the loops below index a primitive array
          val body = new Array[Long](n)
          var c = 0
          while (c < n) { body(c) = bodySeq(c); c += 1 }
          val out = scala.collection.mutable.ArrayBuffer[Row]()
          val sb = new java.lang.StringBuilder
          var start = 0
          def emit(endExcl: Int): Unit = {
            sb.setLength(0)
            var j = start
            while (j < endExcl) {
              if (j > start) sb.append(',')
              sb.append(body(j))
              j += 1
            }
            md.reset()
            val dig = md.digest(sb.toString.getBytes("UTF-8"))
            val hex = new Array[Char](dig.length * 2)
            var h = 0
            while (h < dig.length) {
              hex(2 * h) = hexDigits((dig(h) >> 4) & 0xf)
              hex(2 * h + 1) = hexDigits(dig(h) & 0xf)
              h += 1
            }
            out += Row(id, new String(hex), (endExcl - start).toLong)
            start = endExcl
          }
          if (n >= 8) {
            // seed the rolling hash on the first full window body[0..7]
            var hh = body(0)
            var j = 1
            while (j <= 7) { hh = (hh * 131 + body(j)) % P; j += 1 }
            if (hh % 16 == 0) emit(8)
            var i = 8
            while (i < n) {
              // drop body[i-8] (its coefficient is 131^7), push body[i]
              hh = ((hh - pow7(body(i - 8).toInt) + P) % P * 131 + body(i)) % P
              if (hh % 16 == 0) emit(i + 1)
              i += 1
            }
          }
          if (start < n) emit(n)
          out
        }
      }
    // pinned eagerly (r16 verdict #1): the per-byte CDC chunker is the
    // query's dominant cost and is consumed twice (shared-chunk agg +
    // join-back) — the lazy persist let the two consumers race into
    // chunking the corpus twice
    val chunks = graft.InternalCaches.pinEager(
      spark.createDataFrame(chunkRows, chunkSchema))
    // chunks below 8 bytes are never "shared": CDC implementations
    // impose a minimum chunk size for exactly this reason — tiny
    // chunks collide by value, not by content overlap
    val shared = chunks.filter(col("clen") >= 8)
      .groupBy(col("ch").as("sh"))
      .agg(countDistinct(col("media_id")).as("nm"))
      .filter(col("nm") >= 2).select(col("sh"))
    chunks.join(shared, col("ch") === col("sh"), "left_outer")
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("sh").isNull || col("clen") < 8, 0L).otherwise(1L))
          .as("n_shared"))
      .select(col("media_id"), col("n_chunks"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_chunks"), 6)
          .as("shared_frac"))
      .orderBy(col("media_id"))
  }

  /** VOICE-ACTIVITY-DETECTION segmentation analogue over audio
    * payloads — the pre-filter every speech pipeline runs before the
    * expensive ASR/embedding pass: frame the signal (64-byte frames of
    * the REAL payload body), score each frame's energy (Σ byte² —
    * exact integers, the stub stand-in for RMS over PCM samples), mark
    * frames above the per-media mean energy as active (integer
    * cross-multiplied: energy·n_frames > total_energy, no division),
    * and run-length the active flags into SEGMENTS — the
    * (speech-fraction, segment-count) telemetry that decides whether a
    * clip is worth decoding in full. The run-length trick is the
    * [[cdcDedup]] boundary pattern: a segment starts at an active
    * frame whose predecessor is inactive (lag + flag), so segment
    * counting is one window pass, never a sequential scan.
    *
    * 100 TB shape: framing and energies are map-side HOF folds over
    * each payload (no explode of raw bytes — only ≤ n/64 frame rows);
    * the lag window shuffles frame rows by media once; the report is a
    * groupBy on media_id. Payload bytes never shuffle. */
  val audioVad: QueryDef = QueryDef.sql(
    "mm_audio_vad",
    s"""WITH m AS (
      |  SELECT doc_id AS media_id,
      |    CAST(16 + doc_id % 48 AS INT) * CAST(16 + (doc_id * 7) % 32 AS INT)
      |      AS body_len
      |  FROM documents WHERE doc_id % 3 = 1),
      |fr AS (
      |  SELECT media_id, u.f AS f,
      |    list_reduce([CAST(0 AS BIGINT)] || list_transform(
      |      generate_series(u.f * 64, least((u.f + 1) * 64, body_len) - 1),
      |      k -> CAST(((media_id * 31 + k) % $BodyMod)
      |                * ((media_id * 31 + k) % $BodyMod) AS BIGINT)),
      |      (a, b) -> a + b) AS energy
      |  FROM m CROSS JOIN LATERAL
      |    unnest(generate_series(0, (body_len - 1) // 64)) u(f)),
      |tot AS (
      |  SELECT media_id, CAST(sum(energy) AS BIGINT) AS te,
      |    count(*) AS nf
      |  FROM fr GROUP BY media_id),
      |act AS (
      |  SELECT fr.media_id, fr.f,
      |    CASE WHEN fr.energy * t.nf > t.te THEN 1 ELSE 0 END AS active
      |  FROM fr JOIN tot t ON t.media_id = fr.media_id),
      |seg AS (
      |  SELECT media_id, f, active,
      |    CASE WHEN active = 1 AND
      |      coalesce(lag(active) OVER (PARTITION BY media_id ORDER BY f),
      |               0) = 0
      |    THEN 1 ELSE 0 END AS seg_start
      |  FROM act)
      |SELECT s.media_id,
      |  count(*) AS n_frames,
      |  CAST(sum(s.active) AS BIGINT) AS n_active,
      |  CAST(sum(s.seg_start) AS BIGINT) AS n_segments,
      |  round(sum(s.active) * 1.0 / count(*), 6) AS active_frac
      |FROM seg s GROUP BY s.media_id
      |ORDER BY s.media_id""".stripMargin) { (s, d) =>
    val media = syntheticMedia(Tables.documents(s, d))
      .filter(col("kind") === "audio")
      .select(col("media_id"), expr("binary_bytes(payload)").as("bytes"),
        (length(col("payload")) - 4).cast("long").as("n"))
    def byteAt(k: Column): Column =
      element_at(col("bytes"), (k + 5).cast("int")).cast("long")
    // frame energies map-side: one row per 64-byte frame, folded off
    // the real payload bytes
    val fr = media.select(col("media_id"), col("n"),
        posexplode(transform(
          sequence(lit(0L), floor((col("n") - 1) / lit(64.0)).cast("long")),
          f => aggregate(
            sequence(f * 64, least((f + 1) * 64, col("n")) - 1),
            lit(0L), (a, k) => a + byteAt(k) * byteAt(k))))
          .as(Seq("f", "energy")))
      .select(col("media_id"), col("f").cast("long").as("f"), col("energy"))
    // pinned eagerly: consumed by the total-energy agg and the join
    val frC = graft.InternalCaches.pinEager(fr)
    val tot = frC.groupBy(col("media_id"))
      .agg(sum(col("energy")).as("te"), count(lit(1)).as("nf"))
    val act = frC.join(tot, Seq("media_id"))
      .select(col("media_id"), col("f"),
        when(col("energy") * col("nf") > col("te"), 1L).otherwise(0L)
          .as("active"))
    val w = Window.partitionBy(col("media_id")).orderBy(col("f"))
    act
      .withColumn("seg_start",
        when(col("active") === 1 &&
          coalesce(lag(col("active"), 1).over(w), lit(0L)) === 0, 1L)
          .otherwise(0L))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("active")).as("n_active"),
        sum(col("seg_start")).as("n_segments"))
      .select(col("media_id"), col("n_frames"), col("n_active"),
        col("n_segments"),
        round(col("n_active").cast("double") / col("n_frames"), 6)
          .as("active_frac"))
      .orderBy(col("media_id"))
  }

  val all: Seq[QueryDef] = Seq(decodeMeta, frames, features, resize,
    binaryDedup, fuzzyDedup, phashDedup, cdcDedup, audioVad, textAlign)
}
