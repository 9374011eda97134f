package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator inventory.
  * Query implementations live in graft.queries.*; this object aggregates
  * the registries (the multimodal entries are thin compositions of
  * graft.operators.Multimodal with the shared streaming scaffold). */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_prop_sum_basic")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    FlowQueries.queries ++ EsAggQueries.queries ++ RelationalQueries.queries ++
      TextQueries.queries ++ DedupQueries.queries ++ SimilarityQueries.queries ++
      IngestQueries.queries ++ DslQueries.queries ++
      Map[String, (SparkSession, String) => DataFrame](
        "mm01_binary_pipeline" -> ((s, d) =>
          graft.operators.Multimodal.pipeline(Tables(s, d, "documents"))),
        "mm02_frame_sample" -> ((s, d) =>
          graft.operators.Multimodal.framePipeline(Tables(s, d, "documents"))),
        "mm03_resize_grid" -> ((s, d) =>
          graft.operators.Multimodal.resizeAudit(Tables(s, d, "documents"))),
        "mm04_phash_neardup" -> ((s, d) =>
          graft.operators.Multimodal.phashPairs(Tables(s, d, "documents"))),
        "mm05_audio_windows" -> ((s, d) =>
          graft.operators.Multimodal.audioPipeline(Tables(s, d, "documents"))),
        "mm06_media_info" -> ((s, d) =>
          graft.operators.Multimodal.mediaInfo(Tables(s, d, "documents"))),
        // Multimodal decode AT INGEST — the streaming×multimodal cell:
        // arriving docs get their payload synthesized + STRICTLY decoded
        // mid-stream by mm06's exact map (stateless, no state store), and
        // the audited rows land in append mode. Shares mm06's arithmetic
        // oracle verbatim: a hash match proves streaming decode emits
        // row-identical audits to the batch pipeline.
        "st16_media_info_stream" -> ((s, d) =>
          graft.streaming.Streams.run(
            graft.operators.Multimodal.mediaInfo(TextQueries.docStream(s, d)),
            "st16_mem", "append").frame))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get the weaker rows-only check. */
  def oracleSql: Map[String, String] =
    FlowQueries.oracleSql ++ EsAggQueries.oracleSql ++ RelationalQueries.oracleSql ++
      TextQueries.oracleSql ++ DedupQueries.oracleSql ++ SimilarityQueries.oracleSql ++
      IngestQueries.oracleSql ++ DslQueries.oracleSql ++
      Map(
        // mm06: the oracle recomputes the PLANTED payload properties
        // arithmetically (geometry from (doc_id, n_chars), lossless raster
        // sum from the cycled text bytes) — it never parses a container, so
        // a hash match proves the Spark-side writers+parsers round-trip
        // them. See graft.operators.Multimodal.mediaInfo. st16 shares it
        // verbatim (streaming decode must be row-identical to batch).
        // mm03/mm04/mm05 extend the same pattern to the resize grid, the
        // aHash near-dup pipeline, and the audio windower — see
        // graft.queries.MmOracle. mm01/mm02 recompute their lossless
        // features the same way — incl. mm01's
        // ORDER-SENSITIVE position-weighted checksum, which has a closed
        // form under byte cycling — recomputed arithmetically; lossy JPEG
        // feature cells NULL by the mm06 contract (its raster stays pinned
        // by the ImageIO cross-validation + aHash specs).
        "st16_media_info_stream" -> mm06OracleSql,
        "mm06_media_info" -> mm06OracleSql,
        "mm01_binary_pipeline" -> mm01OracleSql,
        "mm02_frame_sample" -> mm02OracleSql,
        "mm03_resize_grid" -> MmOracle.mm03Sql,
        "mm04_phash_neardup" -> MmOracle.mm04Sql,
        "mm05_audio_windows" -> MmOracle.mm05Sql)

  /** mm01's arithmetic oracle: per doc, the planted geometry and the
    * lossless-raster features recomputed WITHOUT parsing a container —
    * mean = cycled-byte sum / n (GIF gray triples sum 3×), max = max over
    * the used prefix of the cycle, and the ORDER-SENSITIVE checksum
    * Σ(i+1)·px[i] via its closed form under cycling:
    *   rgb:  L·S0·c(c−1)/2 + c·S1 + c·L·S0p + S1p
    *   gif:  9·W1 + 6·W0 (each gray j expands to pixels 3j..3j+2 with
    *         weight sum 9j+6), W0/W1 the gray-stream count/position sums
    * where S0/S1 = Σ b_r / Σ (r+1)·b_r over one text cycle, S0p/S1p the
    * same over the final partial cycle, c = full cycles. JPEG feature
    * cells NULL (lossy; the mm06 contract). A hash match proves the
    * real parsers round-trip pixel VALUES AND ORDER exactly. */
  private val mm01OracleSql =
    """WITH m AS (
      |  SELECT doc_id,
      |         CAST(doc_id % 4 AS INTEGER) AS sel,
      |         CAST(n_chars % 64 + 16 AS BIGINT) AS w,
      |         CAST(doc_id % 48 + 16 AS BIGINT) AS h,
      |         COALESCE(text, '') AS text,
      |         CAST(length(COALESCE(text, '')) AS BIGINT) AS len
      |  FROM documents
      |),
      |s AS (
      |  SELECT *,
      |         CASE WHEN sel = 3 THEN w * h ELSE w * h * 3 END AS n_cyc,
      |         COALESCE(CAST(list_sum(list_transform(string_split(text, ''), c -> unicode(c))) AS BIGINT), 0) AS s0,
      |         COALESCE(CAST(list_sum(list_transform(range(1, CAST(len + 1 AS INTEGER)), i -> i * unicode(substr(text, CAST(i AS INTEGER), 1)))) AS BIGINT), 0) AS s1
      |  FROM m
      |),
      |p AS (
      |  SELECT *,
      |         CASE WHEN len = 0 THEN 0 ELSE n_cyc // len END AS cyc,
      |         CASE WHEN len = 0 THEN 0 ELSE n_cyc % len END AS rem
      |  FROM s
      |),
      |q AS (
      |  SELECT *,
      |         -- rem = 0 guard: string_split('', '') is [''] and
      |         -- unicode('') is -1 (the mm06 oracle's lesson), so an
      |         -- exact-cycle raster would otherwise lose 1
      |         CASE WHEN rem = 0 THEN 0 ELSE
      |           COALESCE(CAST(list_sum(list_transform(string_split(substr(text, 1, CAST(rem AS INTEGER)), ''), c -> unicode(c))) AS BIGINT), 0)
      |         END AS s0p,
      |         COALESCE(CAST(list_sum(list_transform(range(1, CAST(rem + 1 AS INTEGER)), i -> i * unicode(substr(text, CAST(i AS INTEGER), 1)))) AS BIGINT), 0) AS s1p
      |  FROM p
      |)
      |SELECT doc_id,
      |       w AS width, h AS height, w * h * 3 AS n_bytes,
      |       CASE WHEN sel = 2 THEN NULL
      |            ELSE CAST((CASE WHEN sel = 3 THEN 3 ELSE 1 END) * (cyc * s0 + s0p) AS DOUBLE) / (w * h * 3)
      |       END AS mean_byte,
      |       CASE WHEN sel = 2 THEN NULL
      |            WHEN len = 0 THEN 0
      |            ELSE CAST(list_max(list_transform(string_split(substr(text, 1, CAST(LEAST(n_cyc, len) AS INTEGER)), ''), c -> unicode(c))) AS BIGINT)
      |       END AS max_byte,
      |       CASE WHEN sel = 2 THEN NULL
      |            WHEN sel = 3 THEN 9 * (len * s0 * cyc * (cyc - 1) // 2 + cyc * (s1 - s0) + cyc * len * s0p + (s1p - s0p))
      |                              + 6 * (cyc * s0 + s0p)
      |            ELSE len * s0 * cyc * (cyc - 1) // 2 + cyc * s1 + cyc * len * s0p + s1p
      |       END AS weighted_sum
      |FROM q""".stripMargin

  /** mm02's arithmetic oracle: the planted frame grid (every 4th scanline
    * of the planted height) with each lossless frame's mean/max recomputed
    * from the cycled text — window sums via cycled prefix sums
    * P(x) = (x//L)·S0 + prefix(x mod L), window max via the (possibly
    * wrapped) residue substring. JPEG frames keep the grid, NULL cells. */
  private val mm02OracleSql =
    """WITH m AS (
      |  SELECT doc_id,
      |         CAST(doc_id % 4 AS INTEGER) AS sel,
      |         CAST(n_chars % 64 + 16 AS BIGINT) AS w,
      |         CAST(doc_id % 48 + 16 AS BIGINT) AS h,
      |         COALESCE(text, '') AS text,
      |         CAST(length(COALESCE(text, '')) AS BIGINT) AS len
      |  FROM documents
      |),
      |s AS (
      |  SELECT *,
      |         COALESCE(CAST(list_sum(list_transform(string_split(text, ''), c -> unicode(c))) AS BIGINT), 0) AS s0
      |  FROM m
      |),
      |fr AS (
      |  SELECT *, unnest(range(0, CAST(h AS INTEGER), 4)) AS f
      |  FROM s
      |),
      |c AS (
      |  SELECT doc_id, sel, w, len, text, s0, CAST(f AS BIGINT) AS frame_idx,
      |         CASE WHEN sel = 3 THEN f * w ELSE f * w * 3 END AS a,
      |         CASE WHEN sel = 3 THEN w ELSE w * 3 END AS wl
      |  FROM fr
      |),
      |x AS (
      |  SELECT *,
      |    -- the x%len = 0 guards: string_split('', '') is [''] and
      |    -- unicode('') is -1 (the mm06 oracle's lesson)
      |    CASE WHEN len = 0 THEN 0 ELSE
      |      (a // len) * s0 + CASE WHEN a % len = 0 THEN 0 ELSE
      |        COALESCE(CAST(list_sum(list_transform(string_split(substr(text, 1, CAST(a % len AS INTEGER)), ''), c -> unicode(c))) AS BIGINT), 0) END
      |    END AS pa,
      |    CASE WHEN len = 0 THEN 0 ELSE
      |      ((a + wl) // len) * s0 + CASE WHEN (a + wl) % len = 0 THEN 0 ELSE
      |        COALESCE(CAST(list_sum(list_transform(string_split(substr(text, 1, CAST((a + wl) % len AS INTEGER)), ''), c -> unicode(c))) AS BIGINT), 0) END
      |    END AS pb
      |  FROM c
      |)
      |SELECT doc_id, frame_idx,
      |  CASE WHEN sel = 2 THEN NULL
      |       ELSE CAST((CASE WHEN sel = 3 THEN 3 ELSE 1 END) * (pb - pa) AS DOUBLE) / (w * 3)
      |  END AS mean_byte,
      |  CASE WHEN sel = 2 THEN NULL
      |       WHEN len = 0 THEN 0
      |       WHEN wl >= len THEN CAST(list_max(list_transform(string_split(text, ''), c -> unicode(c))) AS BIGINT)
      |       WHEN a % len + wl <= len THEN CAST(list_max(list_transform(string_split(substr(text, CAST(a % len AS INTEGER) + 1, CAST(wl AS INTEGER)), ''), c -> unicode(c))) AS BIGINT)
      |       ELSE GREATEST(
      |         CAST(list_max(list_transform(string_split(substr(text, CAST(a % len AS INTEGER) + 1, CAST(len - a % len AS INTEGER)), ''), c -> unicode(c))) AS BIGINT),
      |         CAST(list_max(list_transform(string_split(substr(text, 1, CAST(a % len + wl - len AS INTEGER)), ''), c -> unicode(c))) AS BIGINT))
      |  END AS max_byte
      |FROM x""".stripMargin

  private val mm06OracleSql =
          """WITH m AS (
            |  SELECT doc_id,
            |         CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' WHEN 2 THEN 'jpeg' ELSE 'gif' END AS format,
            |         CAST(n_chars % 64 + 16 AS BIGINT) AS width,
            |         CAST(doc_id % 48 + 16 AS BIGINT) AS height,
            |         -- COALESCE mirrors the Scala null guard (cycleBytes of
            |         -- a NULL text is a zeroed raster, sum 0) so a NULL-text
            |         -- corpus can't produce a spurious mismatch
            |         COALESCE(text, '') AS text,
            |         CAST(length(COALESCE(text, '')) AS BIGINT) AS len
            |  FROM documents
            |),
            |b AS (
            |  -- GIF plants the text bytes as w*h palette INDICES (each
            |  -- decoding to a gray triplet), the other lossless containers
            |  -- as w*h*3 RGB bytes — n_cyc is the planted cycle length and
            |  -- the GIF raster sum is 3x its cycled-byte sum
            |  SELECT *, CASE WHEN format = 'gif' THEN width * height ELSE width * height * 3 END AS n_cyc,
            |         CAST(list_sum(list_transform(string_split(text, ''), c -> unicode(c))) AS BIGINT) AS tot
            |  FROM m
            |)
            |SELECT doc_id, format, width, height, width * height AS n_pixels,
            |       CASE WHEN format = 'jpeg' THEN NULL
            |            -- len = 0 mirrors cycleBytes' zeroed raster (sum 0)
            |            -- rather than dividing by zero on an empty text
            |            WHEN len = 0 THEN 0
            |            ELSE (CASE WHEN format = 'gif' THEN 3 ELSE 1 END) *
            |                 ((n_cyc // len) * tot +
            |                 CASE WHEN n_cyc % len = 0 THEN 0
            |                      ELSE CAST(list_sum(list_transform(string_split(substr(text, 1, CAST(n_cyc % len AS INTEGER)), ''), c -> unicode(c))) AS BIGINT) END)
            |       END AS raster_sum
            |FROM b""".stripMargin
}
