package graft.operators

import graft.OracleSql._
import graft.Query
import graft.Query.query

/** The m-family: the media decoders and signal gates. */
object MultimodalQueries {

  /** The m36 Otsu-threshold CTE block (through `pf`: per-doc
    * threshold/score/n_bg/n_fg over the 8×8 ord() raster) — the ONE
    * definition shared by the m36 gate and m38's binarization input.
    */
  private lazy val OtsuCtes: String =
    """d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
      |v AS (SELECT doc_id, CAST(i AS INT) AS idx,
      |        CAST(ord(text[CAST(i AS INT)]) AS BIGINT) AS v
      |      FROM d, UNNEST(range(1, 65)) t(i)),
      |cnt AS (SELECT doc_id, v, CAST(count(*) AS BIGINT) AS c
      |        FROM v GROUP BY 1, 2),
      |tot AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS s,
      |          CAST(count(*) AS BIGINT) AS n, CAST(max(v) AS BIGINT) AS vmax
      |        FROM v GROUP BY 1),
      |cdf AS (SELECT doc_id, v,
      |          CAST(sum(c) OVER w AS BIGINT) AS n0,
      |          CAST(sum(v * c) OVER w AS BIGINT) AS s0
      |        FROM cnt WINDOW w AS (PARTITION BY doc_id ORDER BY v)),
      |cand AS (SELECT c.doc_id, c.v, c.n0, t.n - c.n0 AS n1,
      |           c.s0 * (t.n - c.n0) - (t.s - c.s0) * c.n0 AS num
      |         FROM cdf c JOIN tot t USING (doc_id)
      |         WHERE t.n - c.n0 > 0),
      |scored AS (SELECT doc_id, v, n0, n1,
      |             (num * num * 1048576) // (n0 * n1) AS score
      |           FROM cand),
      |pick AS (SELECT doc_id, v, score, n0, n1 FROM (
      |           SELECT s.*, row_number() OVER (PARTITION BY doc_id
      |             ORDER BY score DESC, v) AS rn
      |           FROM scored s) x
      |         WHERE rn = 1),
      |pf AS (SELECT t.doc_id,
      |         CAST(coalesce(p.v, t.vmax) AS INT) AS threshold,
      |         CAST(coalesce(p.score, 0) AS BIGINT) AS score,
      |         CAST(coalesce(p.n0, t.n) AS BIGINT) AS n_bg,
      |         CAST(coalesce(p.n1, 0) AS BIGINT) AS n_fg
      |       FROM tot t LEFT JOIN pick p USING (doc_id))""".stripMargin

  /** DuckDB mirror of Multimodal.ccLabel (m38): the OtsuCtes threshold,
    * the foreground adjacency (4-connectivity on the 1-based row-major
    * grid), and `rounds` generated min-label propagation CTEs — exact
    * because 63 rounds cover the longest shortest path any 8×8
    * component can have. AS MATERIALIZED per round (the bpeSql
    * lesson).
    */
  private def ccLabelSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH $OtsuCtes,
       |fg AS MATERIALIZED (
       |  SELECT v.doc_id, v.idx FROM v JOIN pf p USING (doc_id)
       |  WHERE v.v > p.threshold),
       |adj AS MATERIALIZED (
       |  SELECT a.doc_id, a.idx AS pa, b.idx AS pb
       |  FROM fg a JOIN fg b ON a.doc_id = b.doc_id AND (
       |    (b.idx = a.idx + 1 AND (a.idx - 1) % 8 < 7) OR
       |    (b.idx = a.idx - 1 AND (a.idx - 1) % 8 > 0) OR
       |    b.idx = a.idx + 8 OR b.idx = a.idx - 8)),
       |l0 AS (SELECT doc_id, idx, CAST(idx AS BIGINT) AS lbl FROM fg)""".stripMargin
    for (r <- 1 to rounds) {
      sb ++= s""",
         |l$r AS MATERIALIZED (
         |  SELECT p.doc_id, p.idx,
         |    least(p.lbl, coalesce(min(q.lbl), p.lbl)) AS lbl
         |  FROM l${r - 1} p
         |  LEFT JOIN adj a ON a.doc_id = p.doc_id AND a.pa = p.idx
         |  LEFT JOIN l${r - 1} q ON q.doc_id = a.doc_id AND q.idx = a.pb
         |  GROUP BY p.doc_id, p.idx, p.lbl)""".stripMargin
    }
    sb ++= s""",
       |lab AS (SELECT v.doc_id, v.idx, CAST(coalesce(l.lbl, 0) AS BIGINT) AS lbl
       |  FROM v LEFT JOIN l$rounds l ON l.doc_id = v.doc_id AND l.idx = v.idx),
       |agg AS (SELECT doc_id,
       |    CAST(sum(CASE WHEN lbl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fg,
       |    CAST(count(DISTINCT CASE WHEN lbl > 0 THEN lbl END) AS BIGINT)
       |      AS n_components,
       |    list_reduce([CAST(0 AS BIGINT)] ||
       |      list(lbl ORDER BY idx),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) AS label_checksum
       |  FROM lab GROUP BY 1),
       |mx AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max_component FROM (
       |    SELECT doc_id, lbl, count(*) AS c FROM lab WHERE lbl > 0
       |    GROUP BY 1, 2) g
       |  GROUP BY 1)
       |SELECT p.doc_id, p.threshold, a.n_fg, a.n_components,
       |  CAST(coalesce(mx.max_component, 0) AS BIGINT) AS max_component,
       |  a.label_checksum
       |FROM pf p JOIN agg a USING (doc_id)
       |LEFT JOIN mx USING (doc_id)
       |ORDER BY p.doc_id""".stripMargin
    sb.toString
  }

  /** DuckDB mirror of Multimodal.histEntropy (m39): per-(doc, level)
    * counts, two ilogChainSql passes (count and per-doc n), the q62
    * Theil algebra on pixels.
    */
  private lazy val histEntropySql: String = {
    val twoF = 1L << graft.functions.IntLog.F
    val sb = new StringBuilder
    sb ++= """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
       |v AS (SELECT doc_id, CAST(i AS INT) AS idx,
       |        CAST(ord(text[CAST(i AS INT)]) AS BIGINT) AS v
       |      FROM d, UNNEST(range(1, 65)) t(i)),
       |cnt AS (SELECT doc_id, v, CAST(count(*) AS BIGINT) AS c
       |        FROM v GROUP BY 1, 2),
       |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
       |          CAST(min(v) AS INT) AS lo, CAST(max(v) AS INT) AS hi
       |        FROM v GROUP BY 1)""".stripMargin
    val (at, an) = ilogChainSql("ea", "cnt", "c", "lc", Seq("doc_id", "c"))
    sb ++= at
    val (bt, bn) = ilogChainSql("eb", "tot", "n", "ln",
      Seq("doc_id", "n", "lo", "hi"))
    sb ++= bt
    sb ++= s""",
       |h AS (SELECT a.doc_id,
       |    CAST(sum(a.c * (b.ln - a.lc)) AS BIGINT) AS h_num,
       |    CAST(count(*) AS BIGINT) AS n_levels
       |  FROM $an a JOIN $bn b ON b.doc_id = a.doc_id GROUP BY 1)
       |SELECT b.doc_id, h.n_levels, b.lo, b.hi, h.h_num,
       |  CAST(h.h_num * 1000 // (b.n * $twoF) AS BIGINT) AS h_mbits
       |FROM $bn b JOIN h ON h.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin
    sb.toString
  }

  val all: Seq[Query] = Seq(
    // m01: format-detected media metadata over a MIXED corpus — per
    // doc_id % 3 the payload is a real PGM, a real PNG (same pixels),
    // or undecodable (0x00-prefixed bytes). The oracle recomputes the
    // canonical pixels from ord() and replays BOTH checksum folds: the
    // pixel fold (identical for the two real encodings — the
    // compression-invariance claim) and the raw-byte fold with the
    // leading 0 (the stub fallback's honest answer), plus the -1
    // sentinels on the stub branch.
    query("m01_media_meta", Multimodal.mediaMeta) oracle
      """WITH d AS (SELECT doc_id, substr(text, 1, 64) AS px
        |  FROM documents WHERE length(text) >= 64),
        |v AS (SELECT doc_id, CAST(i AS INT) AS idx,
        |    CAST(ord(px[CAST(i AS INT)]) AS BIGINT) AS v
        |  FROM d, UNNEST(range(1, 65)) t(i)),
        |chk AS (SELECT doc_id,
        |    list_reduce([CAST(0 AS BIGINT)] || list(v ORDER BY idx),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS pix_chk,
        |    list_reduce([CAST(0 AS BIGINT), CAST(0 AS BIGINT)] ||
        |        list(v ORDER BY idx),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS stub_chk
        |  FROM v GROUP BY doc_id)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'pgm' WHEN doc_id % 3 = 1 THEN 'png'
        |       ELSE 'stub' END AS format,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN -1 ELSE 8 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN -1 ELSE 8 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN -1 ELSE 1 END AS INT) AS channels,
        |  CASE WHEN doc_id % 3 = 2 THEN stub_chk ELSE pix_chk END
        |    AS pixel_checksum
        |FROM chk ORDER BY doc_id""".stripMargin,

    // ASCII-CORPUS ASSUMPTION (m02/m03/m04): the decoded PGM pixels ARE
    // the text-prefix bytes, and DuckDB's substr/md5 slice VARCHAR
    // (character offsets) — identical only while every document byte is
    // single-byte. The synthetic documents table is pure ASCII
    // (asserted by MultimodalSpec's "corpus is single-byte" guard); a
    // non-ASCII corpus needs these oracles rewritten over
    // encode(text)/BLOB before the gate means anything.
    // m02: frame sampling over REAL DECODED pixels — Spark encodes each
    // 64-byte text prefix as a binary P5 PGM, decodes it back through
    // the real header walk + pixel copy, and slices 16-byte frames
    // every 8 from the DECODED stream; the oracle slices the prefix
    // directly (decode(encode(x)) = x is the claim under test).
    query("m02_frame_hashes", Multimodal.frameHashes(_, _)) oracle
      """WITH d AS (SELECT doc_id, substr(text, 1, 64) AS px
        |  FROM documents WHERE length(text) >= 64),
        |f AS (
        |  SELECT doc_id, i, substr(px, CAST(i AS INT), 16) AS frame
        |  FROM (SELECT doc_id, px, unnest(range(1, 64 - 16 + 2, 8)) AS i
        |        FROM d) t
        |)
        |SELECT doc_id, CAST((i - 1) // 8 + 1 AS INT) AS frame_no, md5(frame) AS frame_hash
        |FROM f ORDER BY doc_id, frame_no""".stripMargin,

    // shared-frame near-dup: distinct (doc, frame-hash) sets from the
    // m02 decoded-frame slicing, one equi-join on the hash, pair
    // overlap count
    query("m03_media_neardup", Multimodal.mediaNearDup(_, _)) oracle
      """WITH d AS (SELECT doc_id, substr(text, 1, 64) AS px
        |  FROM documents WHERE length(text) >= 64),
        |f AS (
        |  SELECT DISTINCT doc_id, md5(substr(px, CAST(i AS INT), 16)) AS fh
        |  FROM (SELECT doc_id, px, unnest(range(1, 64 - 16 + 2, 8)) AS i
        |        FROM d) t
        |)
        |SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS n_shared
        |FROM f x JOIN f y ON x.fh = y.fh AND x.doc_id < y.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY a, b""".stripMargin,

    // frame-hash document frequency (the m03 cap-sizing report); same
    // decoded-frame slicing as the m02 CTE, bag + distinct counts per
    // hash
    query("m04_frame_df", Multimodal.frameDf(_, _)) oracle
      """WITH d AS (SELECT doc_id, substr(text, 1, 64) AS px
        |  FROM documents WHERE length(text) >= 64),
        |f AS (
        |  SELECT doc_id, md5(substr(px, CAST(i AS INT), 16)) AS fh
        |  FROM (SELECT doc_id, px, unnest(range(1, 64 - 16 + 2, 8)) AS i
        |        FROM d) t
        |)
        |SELECT fh, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occ
        |FROM f GROUP BY fh HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY fh""".stripMargin,

    // m05: REAL pixel decode under the gate — the Spark side builds an
    // actual binary P5 PGM per document (first 64 text bytes as an 8x8
    // raster), decodes it with decodeRasterPixels, and fingerprints
    // the canonical pixel array; the oracle never sees a binary
    // payload — it recomputes each pixel with ord() on the text prefix
    // (single-byte corpus, the m02 premise) and replays the rolling
    // checksum ((acc*31+px) % 1e9+7) via list_reduce.
    query("m05_raster_gate", Multimodal.rasterChecksumGate) oracle
      """SELECT doc_id, 'pgm' AS format, 8 AS width, 8 AS height,
        |  1 AS channels,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    list_transform(range(1, 65), i ->
        |      CAST(ord(text[CAST(i AS INT)]) AS BIGINT)),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS pixel_checksum
        |FROM documents WHERE length(text) >= 64 ORDER BY doc_id""".stripMargin,

    // m11: REAL PNG decode under the gate — the Spark side encodes
    // each document's 64-byte text prefix as a genuine
    // DEFLATE-compressed PNG (per-row filter varying (doc_id+y)%5, so
    // all five PNG filters appear across the corpus), decodes it with
    // decodePngPixels (JDK Inflater + the five unfilter branches +
    // chunk CRC verification), and fingerprints the canonical pixels;
    // the oracle recomputes each pixel with ord() on the text prefix,
    // never seeing a compressed byte. Identical pixel math to m05 —
    // only the container (and therefore the decode chain under test)
    // differs.
    query("m11_png_gate", Multimodal.pngChecksumGate) oracle
      """SELECT doc_id, 'png' AS format, 8 AS width, 8 AS height,
        |  1 AS channels,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    list_transform(range(1, 65), i ->
        |      CAST(ord(text[CAST(i AS INT)]) AS BIGINT)),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS pixel_checksum
        |FROM documents WHERE length(text) >= 64 ORDER BY doc_id""".stripMargin,

    // m12: REAL GIF LZW decode under the gate — the Spark side
    // compresses each document's 64-byte text prefix into a genuine
    // GIF87a (real LZW: dictionary growth + width bumps) over the
    // 256-entry grayscale identity palette, decodes it with
    // decodeGifPixels, and fingerprints the canonical RGB pixels; the
    // oracle recomputes each pixel as the ord() byte REPEATED across
    // the three channels and replays the rolling checksum, never
    // seeing a compressed byte.
    query("m12_gif_gate", Multimodal.gifChecksumGate) oracle
      """SELECT doc_id, 'gif' AS format, 8 AS width, 8 AS height,
        |  3 AS channels,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    flatten(list_transform(range(1, 65), i ->
        |      [CAST(ord(text[CAST(i AS INT)]) AS BIGINT),
        |       CAST(ord(text[CAST(i AS INT)]) AS BIGINT),
        |       CAST(ord(text[CAST(i AS INT)]) AS BIGINT)])),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS pixel_checksum
        |FROM documents WHERE length(text) >= 64 ORDER BY doc_id""".stripMargin,

    // m13: the RGB PNG gate — same bridge as m11 but 3 channels over
    // the first 192 text bytes, so the Sub/Average/Paeth predictors'
    // bpp=3 reach-back (untouched by the grayscale gate) is proven
    // cross-engine
    query("m13_png_rgb_gate", Multimodal.pngRgbChecksumGate) oracle
      """SELECT doc_id, 'png' AS format, 8 AS width, 8 AS height,
        |  3 AS channels,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    list_transform(range(1, 193), i ->
        |      CAST(ord(text[CAST(i AS INT)]) AS BIGINT)),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS pixel_checksum
        |FROM documents WHERE length(text) >= 192 ORDER BY doc_id""".stripMargin,

    // m14: compressed-audio header metadata — the Spark side parses
    // genuine bit-packed FLAC STREAMINFO / MP3 frame headers built
    // from text bytes; the oracle re-derives every field from ord()
    // arithmetic (including the public bitrate/sample-rate tables and
    // the 144000·br//sr frame-length integer division)
    query("m14_codec_meta", Multimodal.codecMetaGate) oracle
      """WITH d AS (SELECT doc_id, substr(text, 1, 8) AS px
        |           FROM documents WHERE length(text) >= 8),
        |o AS (SELECT doc_id,
        |        ord(substr(px, 1, 1)) AS o0, ord(substr(px, 2, 1)) AS o1,
        |        ord(substr(px, 3, 1)) AS o2, ord(substr(px, 4, 1)) AS o3,
        |        ord(substr(px, 5, 1)) AS o4, ord(substr(px, 6, 1)) AS o5,
        |        ord(substr(px, 7, 1)) AS o6
        |      FROM d),
        |flac AS (SELECT doc_id, 'flac' AS format,
        |    CAST(8000 + o0 * 37 + o1 AS INT) AS sample_rate,
        |    CAST(1 + (o2 % 2) AS INT) AS channels,
        |    CAST(8 + (o3 % 17) AS INT) AS bits_per_sample,
        |    CAST(o4 * 65536 + o5 * 256 + o6 AS BIGINT) AS total_samples,
        |    CAST(NULL AS INT) AS bitrate_kbps,
        |    CAST(NULL AS INT) AS frame_len
        |  FROM o),
        |mp3 AS (SELECT doc_id, 'mp3' AS format,
        |    CAST(list_extract([44100, 48000, 32000], 1 + (o1 % 3)) AS INT) AS sample_rate,
        |    CAST(CASE WHEN (o3 % 4) = 3 THEN 1 ELSE 2 END AS INT) AS channels,
        |    CAST(NULL AS INT) AS bits_per_sample,
        |    CAST(NULL AS BIGINT) AS total_samples,
        |    CAST(list_extract([32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
        |                       192, 224, 256, 320], 1 + (o0 % 14)) AS INT) AS bitrate_kbps,
        |    CAST(144000 * list_extract([32, 40, 48, 56, 64, 80, 96, 112, 128,
        |            160, 192, 224, 256, 320], 1 + (o0 % 14))
        |         // list_extract([44100, 48000, 32000], 1 + (o1 % 3))
        |         + (o2 % 2) AS INT) AS frame_len
        |  FROM o)
        |SELECT * FROM flac UNION ALL SELECT * FROM mp3
        |ORDER BY doc_id, format""".stripMargin,

    // m15: the indexed-PNG gate — the Spark side unfilters the index
    // plane and expands through PLTE; the oracle derives each RGB
    // triple from ord() via the deranged palette formulas
    query("m15_png_palette_gate", Multimodal.pngPaletteChecksumGate) oracle
      """SELECT doc_id, 'png' AS format, 8 AS width, 8 AS height,
        |  3 AS channels,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    flatten(list_transform(range(1, 65), i ->
        |      [CAST(ord(text[CAST(i AS INT)]) AS BIGINT),
        |       CAST((ord(text[CAST(i AS INT)]) * 7 + 13) % 256 AS BIGINT),
        |       CAST((ord(text[CAST(i AS INT)]) * 31 + 5) % 256 AS BIGINT)])),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS pixel_checksum
        |FROM documents WHERE length(text) >= 64 ORDER BY doc_id""".stripMargin,

    // m17: the Adam7 gate — the Spark side round-trips the text
    // prefix through the INTERLACED wire format (seven pass
    // sub-images, pass-confined predictors, scatter geometry); the
    // oracle is the m11 pixel recompute VERBATIM — canonical pixels
    // are interlace-invariant, which is exactly the claim under test
    query("m17_png_adam7_gate", Multimodal.pngAdam7ChecksumGate) oracle
      """SELECT doc_id, 'png' AS format, 8 AS width, 8 AS height,
        |  1 AS channels,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    list_transform(range(1, 65), i ->
        |      CAST(ord(text[CAST(i AS INT)]) AS BIGINT)),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS pixel_checksum
        |FROM documents WHERE length(text) >= 64 ORDER BY doc_id""".stripMargin,

    // m18: the RLE8 BMP gate — the Spark side decodes a genuine
    // run-length stream (runs + absolute literals alternating) back
    // through the deranged palette; the oracle is the m15 pixel
    // recompute VERBATIM — expected pixels are compression-invariant
    query("m18_bmp_rle_gate", Multimodal.bmpRleChecksumGate) oracle
      """SELECT doc_id, 'bmp' AS format, 8 AS width, 8 AS height,
        |  3 AS channels,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    flatten(list_transform(range(1, 65), i ->
        |      [CAST(ord(text[CAST(i AS INT)]) AS BIGINT),
        |       CAST((ord(text[CAST(i AS INT)]) * 7 + 13) % 256 AS BIGINT),
        |       CAST((ord(text[CAST(i AS INT)]) * 31 + 5) % 256 AS BIGINT)])),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS pixel_checksum
        |FROM documents WHERE length(text) >= 64 ORDER BY doc_id""".stripMargin,

    // m16: EXIF/TIFF IFD0 — the Spark side walks genuine directories
    // in BOTH byte orders (doc parity picks II/MM); the oracle
    // recomputes the fields from ord() and the parity
    query("m16_exif_meta", Multimodal.exifMetaGate) oracle
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  CAST(100 + ord(substr(text, 1, 1)) * 17 + ord(substr(text, 2, 1)) AS BIGINT) AS width,
        |  CAST(100 + ord(substr(text, 2, 1)) * 13 + ord(substr(text, 3, 1)) AS BIGINT) AS height,
        |  CAST(1 + (ord(substr(text, 4, 1)) % 8) AS INT) AS orientation
        |FROM documents WHERE length(text) >= 4 ORDER BY doc_id""".stripMargin,

    // m19: REAL TIFF strip decode under the gate — the Spark side
    // walks genuine strip-organized directories (both byte orders by
    // the second parity bit, gray/RGB by doc parity, three uneven
    // strips with offset-stored arrays) built from text bytes; the
    // oracle recomputes every pixel with ord() on the prefix — 64
    // gray samples for even docs, 192 RGB samples for odd — and
    // replays the rolling checksum, never seeing a TIFF byte.
    query("m19_tiff_gate", Multimodal.tiffChecksumGate) oracle
      """SELECT doc_id, 'tiff' AS format, 8 AS width, 8 AS height,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INT) AS channels,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    list_transform(
        |      range(1, CASE WHEN doc_id % 2 = 0 THEN 65 ELSE 193 END), i ->
        |      CAST(ord(text[CAST(i AS INT)]) AS BIGINT)),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS pixel_checksum
        |FROM documents WHERE length(text) >= 192 ORDER BY doc_id""".stripMargin,

    // m20: G.711 µ-law/A-law expansion under the gate — wire code j
    // is (ord_j·7 + j) mod 256 (spans all 256 code points); µ-law for
    // even docs (complement, mantissa<<3 + 132 bias, segment shift,
    // sign from bit 7), A-law for odd (XOR 0x55, mantissa<<4, segment
    // 0/1/shift cases, bit 7 = POSITIVE); features replay m07's
    // definitions over the expanded LINEAR samples
    query("m20_g711_gate", Multimodal.g711Gate) oracle
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
        |cd AS (SELECT doc_id, CAST(i AS INT) AS idx,
        |        (ord(text[CAST(i AS INT)]) * 7 + (CAST(i AS INT) - 1)) % 256 AS code
        |      FROM d, UNNEST(range(1, 65)) AS t(i)),
        |v AS (SELECT doc_id, idx,
        |    CASE WHEN doc_id % 2 = 0 THEN
        |      CASE WHEN (255 - code) >= 128
        |        THEN 132 - ((((255 - code) % 16) * 8 + 132) * (1 << (((255 - code) // 16) % 8)))
        |        ELSE ((((255 - code) % 16) * 8 + 132) * (1 << (((255 - code) // 16) % 8))) - 132 END
        |    ELSE
        |      CASE WHEN xor(code, 85) >= 128 THEN 1 ELSE -1 END *
        |      CASE WHEN (xor(code, 85) // 16) % 8 = 0 THEN (xor(code, 85) % 16) * 16 + 8
        |           WHEN (xor(code, 85) // 16) % 8 = 1 THEN (xor(code, 85) % 16) * 16 + 264
        |           ELSE ((xor(code, 85) % 16) * 16 + 264) * (1 << ((xor(code, 85) // 16) % 8 - 1)) END
        |    END AS s
        |  FROM cd),
        |f AS (SELECT doc_id, CAST(max(abs(s)) AS INT) AS peak,
        |        CAST(sum(abs(s)) AS BIGINT) AS sum_abs FROM v GROUP BY doc_id),
        |z AS (SELECT doc_id,
        |    CAST(count(CASE WHEN (pv < 0) <> (s < 0) THEN 1 END) AS INT) AS zero_crossings
        |  FROM (SELECT doc_id, s,
        |          lag(s) OVER (PARTITION BY doc_id ORDER BY idx) AS pv FROM v) t
        |  GROUP BY doc_id),
        |c AS (SELECT doc_id, list_reduce([CAST(0 AS BIGINT)] ||
        |    list_transform(list(s ORDER BY idx), x -> CAST(x + 32768 AS BIGINT)),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS sample_checksum
        |  FROM v GROUP BY doc_id)
        |SELECT f.doc_id,
        |  CASE WHEN f.doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS law,
        |  CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
        |  CAST(8 AS INT) AS bits_per_sample, CAST(64 AS BIGINT) AS n_samples,
        |  f.peak, f.sum_abs, z.zero_crossings, c.sample_checksum
        |FROM f JOIN z USING (doc_id) JOIN c USING (doc_id)
        |ORDER BY f.doc_id""".stripMargin,

    // m21: ID3v2 tag metadata — the oracle re-derives version from
    // parity, the three varying text lengths from ord() mod 12, the
    // declared synchsafe size as 33 + those lengths, and the frame
    // texts from substr() — never seeing a tag byte
    query("m21_id3_gate", Multimodal.id3Gate) oracle
      """WITH d AS (SELECT doc_id, substr(text, 1, 40) AS px
        |           FROM documents WHERE length(text) >= 40),
        |o AS (SELECT doc_id, px,
        |        1 + ord(substr(px, 1, 1)) % 12 AS tl,
        |        1 + ord(substr(px, 2, 1)) % 12 AS al,
        |        1 + ord(substr(px, 3, 1)) % 12 AS bl
        |      FROM d)
        |SELECT doc_id,
        |  CAST(3 + doc_id % 2 AS INT) AS version,
        |  CAST(33 + tl + al + bl AS INT) AS tag_size,
        |  CAST(3 AS INT) AS n_frames,
        |  substr(px, 4, tl) AS title,
        |  substr(px, 16, al) AS artist,
        |  substr(px, 28, bl) AS album
        |FROM o ORDER BY doc_id""".stripMargin,

    // m22: 8000 -> 6000 Hz (3/4) linear-interp resample of the m07
    // WAVs — Spark decodes the real binary and interpolates; the
    // oracle rebuilds source samples from ord() and replays the
    // SHIFTED-space interpolation (numerator non-negative, so // is
    // the same floor as the Scala division on longs)
    query("m22_resample_gate", Multimodal.resamplePcmGate) oracle
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
        |v AS (SELECT doc_id, CAST(i AS INT) - 1 AS idx,
        |        (ord(text[CAST(i AS INT)]) - 96) * 128 + 32768 AS sh
        |      FROM d, UNNEST(range(1, 65)) AS t(i)),
        |js AS (SELECT CAST(j AS INT) AS j,
        |         CAST((j * 4) // 3 AS INT) AS q,
        |         CAST((j * 4) % 3 AS INT) AS rem
        |       FROM (SELECT unnest(range(0, 96)) AS j) t
        |       WHERE CASE WHEN (j * 4) % 3 = 0 THEN (j * 4) // 3 <= 63
        |                  ELSE (j * 4) // 3 + 1 <= 63 END),
        |r AS (SELECT s0.doc_id, js.j,
        |        CASE WHEN js.rem = 0 THEN s0.sh
        |             ELSE ((3 - js.rem) * s0.sh + js.rem * s1.sh) // 3
        |        END AS shv
        |      FROM js
        |      JOIN v s0 ON s0.idx = js.q
        |      LEFT JOIN v s1 ON s1.doc_id = s0.doc_id AND s1.idx = js.q + 1
        |      WHERE js.rem = 0 OR s1.idx IS NOT NULL)
        |SELECT doc_id, j, CAST(6000 AS INT) AS out_rate,
        |  CAST(shv - 32768 AS INT) AS sample
        |FROM r ORDER BY doc_id, j""".stripMargin,

    // m24: autocorrelation profile — the oracle rebuilds samples from
    // ord() arithmetic and replays each lag's product sum plus the
    // dominant-lag argmax (ties to the smaller lag)
    query("m24_autocorr_gate", Multimodal.autocorrGate) oracle
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
        |v AS (SELECT doc_id, CAST(i AS INT) - 1 AS idx,
        |        (ord(text[CAST(i AS INT)]) - 96) * 128 AS s
        |      FROM d, UNNEST(range(1, 65)) AS t(i)),
        |l AS (SELECT CAST(unnest([1, 2, 4, 8]) AS INT) AS lag),
        |p AS (SELECT a.doc_id, l.lag,
        |        CAST(sum(CAST(a.s AS BIGINT) * b.s) AS BIGINT) AS ac
        |      FROM v a CROSS JOIN l
        |      JOIN v b ON b.doc_id = a.doc_id AND b.idx = a.idx + l.lag
        |      GROUP BY 1, 2),
        |e AS (SELECT doc_id, CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) AS r0
        |      FROM v GROUP BY 1),
        |rk AS (SELECT p.doc_id, p.lag, p.ac, e.r0,
        |        row_number() OVER (PARTITION BY p.doc_id
        |          ORDER BY p.ac DESC, p.lag) AS rn
        |      FROM p JOIN e USING (doc_id))
        |SELECT doc_id, lag, ac, r0,
        |  CAST(max(CASE WHEN rn = 1 THEN lag END)
        |    OVER (PARTITION BY doc_id) AS INT) AS dom_lag
        |FROM rk ORDER BY doc_id, lag""".stripMargin,

    // m29: stereo de-interleave + shifted-space downmix — the oracle
    // rebuilds both channels from ord() and replays the non-negative
    // floor division
    query("m29_downmix_gate", Multimodal.downmixGate) oracle
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
        |v AS (SELECT doc_id, CAST(j AS INT) AS j,
        |    (ord(text[CAST(j + 1 AS INT)]) - 96) * 128 AS l,
        |    (ord(text[CAST(j + 33 AS INT)]) - 96) * 128 + j % 2 AS r
        |  FROM d, UNNEST(range(0, 32)) AS t(j))
        |SELECT doc_id, j, CAST(l AS INT) AS "left", CAST(r AS INT) AS "right",
        |  CAST((l + 32768 + r + 32768) // 2 - 32768 AS INT) AS mix
        |FROM v ORDER BY doc_id, j""".stripMargin,

    // m28: animated-GIF composition — the oracle recomputes both
    // composited canvases from ord() arithmetic: frame 1 the deranged
    // palette over text bytes; frame 2 the disposal-2-restored
    // background (entry 7) except where the 4x4 patch is opaque
    // (patch idx = ord % 8, 0 = transparent -> background)
    query("m28_gif_anim_gate", Multimodal.gifAnimGate) oracle
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 80),
        |f1 AS (SELECT doc_id, CAST(1 AS INT) AS frame_no,
        |    CAST(doc_id % 100 AS INT) AS delay_cs, CAST(2 AS INT) AS disposal,
        |    list_reduce([CAST(0 AS BIGINT)] ||
        |      flatten(list_transform(range(1, 65), i ->
        |        [CAST(ord(text[CAST(i AS INT)]) AS BIGINT),
        |         CAST((ord(text[CAST(i AS INT)]) * 7 + 13) % 256 AS BIGINT),
        |         CAST((ord(text[CAST(i AS INT)]) * 31 + 5) % 256 AS BIGINT)])),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS pixel_checksum
        |  FROM d),
        |v2 AS (SELECT doc_id, j,
        |    CASE WHEN (j % 8) BETWEEN 2 AND 5 AND (j // 8) BETWEEN 2 AND 5
        |      THEN (CASE WHEN ord(text[CAST(65 + (j // 8 - 2) * 4
        |               + (j % 8 - 2) AS INT)]) % 8 = 0 THEN 7
        |            ELSE ord(text[CAST(65 + (j // 8 - 2) * 4
        |               + (j % 8 - 2) AS INT)]) % 8 END)
        |      ELSE 7 END AS v
        |  FROM d, UNNEST(range(0, 64)) AS t(j)),
        |f2 AS (SELECT doc_id, CAST(2 AS INT) AS frame_no,
        |    CAST((doc_id + 37) % 100 AS INT) AS delay_cs,
        |    CAST(0 AS INT) AS disposal,
        |    list_reduce([CAST(0 AS BIGINT)] ||
        |      flatten(list([CAST(v AS BIGINT),
        |        CAST((v * 7 + 13) % 256 AS BIGINT),
        |        CAST((v * 31 + 5) % 256 AS BIGINT)] ORDER BY j)),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS pixel_checksum
        |  FROM v2 GROUP BY doc_id)
        |SELECT * FROM f1 UNION ALL SELECT * FROM f2
        |ORDER BY doc_id, frame_no""".stripMargin,

    // m27: EXIF orientation over real QOI pixels    // m27: EXIF orientation over real QOI pixels — the oracle replays
    // the inverse index map (sx, sy per output position, CASE over the
    // eight tags) with ord() arithmetic through the deranged channels
    query("m27_orient_gate", Multimodal.orientGate) oracle
      """WITH d AS (SELECT doc_id, text, CAST(1 + doc_id % 8 AS INT) AS o
        |           FROM documents WHERE length(text) >= 16),
        |pos AS (SELECT doc_id, text, o, CAST(j AS INT) AS j,
        |    CAST(j % 8 AS INT) AS x, CAST(j // 8 AS INT) AS y
        |  FROM d, UNNEST(range(0, 64)) AS t(j)),
        |src AS (SELECT doc_id, text, o, j,
        |    CASE WHEN o IN (1, 4) THEN x WHEN o IN (2, 3) THEN 7 - x
        |         WHEN o IN (5, 6) THEN y ELSE 7 - y END AS sx,
        |    CASE WHEN o IN (1, 2) THEN y WHEN o IN (3, 4) THEN 7 - y
        |         WHEN o IN (5, 8) THEN x ELSE 7 - x END AS sy
        |  FROM pos),
        |v AS (SELECT doc_id, o, j,
        |    ord(text[CAST((sy * 8 + sx) // 4 + 1 AS INT)]) AS pv
        |  FROM src),
        |ck AS (SELECT doc_id, o,
        |    list_reduce([CAST(0 AS BIGINT)] ||
        |      flatten(list(
        |        [CAST(pv AS BIGINT), CAST((pv * 7 + 13) % 256 AS BIGINT),
        |         CAST((pv * 31 + 5) % 256 AS BIGINT)] ORDER BY j)),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS pixel_checksum
        |  FROM v GROUP BY doc_id, o)
        |SELECT doc_id, o AS orientation, 8 AS width, 8 AS height,
        |  3 AS channels, pixel_checksum
        |FROM ck ORDER BY doc_id""".stripMargin,

    // m26: REAL QOI decode — the oracle recomputes the deranged-
    // channel canonical pixels from ord() arithmetic (pixel j reads
    // text byte j//4), never seeing a run/index/diff/luma byte
    query("m26_qoi_gate", Multimodal.qoiChecksumGate) oracle
      """SELECT doc_id, 'qoi' AS format, 8 AS width, 8 AS height,
        |  3 AS channels,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    flatten(list_transform(range(0, 64), j ->
        |      [CAST(ord(text[CAST(j // 4 + 1 AS INT)]) AS BIGINT),
        |       CAST((ord(text[CAST(j // 4 + 1 AS INT)]) * 7 + 13) % 256 AS BIGINT),
        |       CAST((ord(text[CAST(j // 4 + 1 AS INT)]) * 31 + 5) % 256 AS BIGINT)])),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS pixel_checksum
        |FROM documents WHERE length(text) >= 16 ORDER BY doc_id""".stripMargin,

    // m25: WebP dims — the oracle recomputes variant (doc_id mod 3)
    // and dimensions from ord() arithmetic, never seeing a RIFF byte
    query("m25_webp_gate", Multimodal.webpMetaGate) oracle
      """WITH d AS (SELECT doc_id,
        |    ord(text[1]) AS o0, ord(text[2]) AS o1,
        |    ord(text[3]) AS o2, ord(text[4]) AS o3
        |  FROM documents WHERE length(text) >= 4)
        |SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'VP8 ' WHEN 1 THEN 'VP8L'
        |    ELSE 'VP8X' END AS variant,
        |  CAST(CASE doc_id % 3
        |    WHEN 0 THEN 1 + (o0 * 53 + o1) % 16383
        |    WHEN 1 THEN 1 + (o0 * 53 + o1) % 16384
        |    ELSE 1 + (o0 * 65000 + o1 * 251 + o2) % 16777216
        |  END AS INT) AS width,
        |  CAST(CASE doc_id % 3
        |    WHEN 0 THEN 1 + (o1 * 53 + o2) % 16383
        |    WHEN 1 THEN 1 + (o1 * 53 + o2) % 16384
        |    ELSE 1 + (o1 * 65000 + o2 * 251 + o3) % 16777216
        |  END AS INT) AS height
        |FROM d ORDER BY doc_id""".stripMargin,

    // m23: the 16-bit gray PNG gate — canonical pixels are the
    // high-byte reduction, which the builder pins to the raw ord()
    // value (sample = v*256 + (255-v)), so the oracle is m11's
    // first-principles checksum verbatim
    query("m23_png16_gate", Multimodal.png16ChecksumGate) oracle
      """SELECT doc_id, 'png' AS format, 8 AS width, 8 AS height,
        |  1 AS channels,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    list_transform(range(1, 65), i ->
        |      CAST(ord(text[CAST(i AS INT)]) AS BIGINT)),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS pixel_checksum
        |FROM documents WHERE length(text) >= 64 ORDER BY doc_id""".stripMargin,

    // m06: perceptual hashes over REAL decoded pixels, cross-engine —
    // aHash: 8x8 grid (identity sampling at this size), threshold at
    // the integer mean (floor division of the exact sum); dHash: 9x8
    // grid with nearest-neighbor column sampling (x*8)//9, bit =
    // left < right. Bit 63 cannot be built by shifting (BIGINT shift
    // overflow) — its contribution is the min-long literal.
    query("m06_perceptual_gate", Multimodal.perceptualGate) oracle
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
        |v AS (SELECT doc_id, CAST(i AS INT) - 1 AS idx,
        |        CAST(ord(text[CAST(i AS INT)]) AS BIGINT) AS v
        |      FROM d, UNNEST(range(1, 65)) AS t(i)),
        |m AS (SELECT doc_id, sum(v) // 64 AS mean FROM v GROUP BY doc_id),
        |ab AS (SELECT v.doc_id,
        |    CAST(sum(CASE WHEN v.v >= m.mean THEN
        |        CASE WHEN v.idx = 63 THEN -9223372036854775807 - 1
        |             ELSE CAST(1 AS BIGINT) << v.idx END
        |      ELSE 0 END) AS BIGINT) AS ahash
        |  FROM v JOIN m USING (doc_id) GROUP BY v.doc_id),
        |dc AS (SELECT d.doc_id, CAST(x AS INT) AS x, CAST(y AS INT) AS y,
        |    ord(text[CAST(y * 8 + (x * 8) // 9 + 1 AS INT)]) AS cl,
        |    ord(text[CAST(y * 8 + ((x + 1) * 8) // 9 + 1 AS INT)]) AS cr
        |  FROM d, UNNEST(range(0, 8)) AS tx(x), UNNEST(range(0, 8)) AS ty(y)),
        |db AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN cl < cr THEN
        |        CASE WHEN y * 8 + x = 63 THEN -9223372036854775807 - 1
        |             ELSE CAST(1 AS BIGINT) << (y * 8 + x) END
        |      ELSE 0 END) AS BIGINT) AS dhash
        |  FROM dc GROUP BY doc_id)
        |SELECT ab.doc_id, ab.ahash, db.dhash
        |FROM ab JOIN db USING (doc_id) ORDER BY ab.doc_id""".stripMargin,

    // m07: REAL PCM sample decode under the gate — the Spark side
    // builds an actual 16-bit mono WAV per document (sample j =
    // (byte_j − 96)·128 over the first 64 text bytes — signs vary, so
    // negative samples round-trip through two's-complement bytes),
    // decodes it with decodePcmSamples, and derives signal features;
    // the oracle recomputes every sample with ord() arithmetic. The
    // checksum runs over the BIASED sample s + 32768 (non-negative, so
    // the modular arithmetic is engine-independent); a zero crossing
    // is a (prev < 0) != (cur < 0) transition with 0 counted
    // non-negative.
    query("m07_audio_gate", Multimodal.pcmGate) oracle
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
        |v AS (SELECT doc_id, CAST(i AS INT) AS idx,
        |        (ord(text[CAST(i AS INT)]) - 96) * 128 AS s
        |      FROM d, UNNEST(range(1, 65)) AS t(i)),
        |f AS (SELECT doc_id, CAST(max(abs(s)) AS INT) AS peak,
        |        CAST(sum(abs(s)) AS BIGINT) AS sum_abs FROM v GROUP BY doc_id),
        |z AS (SELECT doc_id,
        |    CAST(count(CASE WHEN (pv < 0) <> (s < 0) THEN 1 END) AS INT) AS zero_crossings
        |  FROM (SELECT doc_id, s,
        |          lag(s) OVER (PARTITION BY doc_id ORDER BY idx) AS pv FROM v) t
        |  GROUP BY doc_id),
        |c AS (SELECT doc_id, list_reduce([CAST(0 AS BIGINT)] ||
        |    list_transform(range(1, 65), i ->
        |      CAST((ord(text[CAST(i AS INT)]) - 96) * 128 + 32768 AS BIGINT)),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS sample_checksum FROM d)
        |SELECT f.doc_id, CAST(8000 AS INT) AS sample_rate,
        |  CAST(1 AS INT) AS channels, CAST(16 AS INT) AS bits_per_sample,
        |  CAST(64 AS BIGINT) AS n_samples, f.peak, f.sum_abs,
        |  z.zero_crossings, c.sample_checksum
        |FROM f JOIN z USING (doc_id) JOIN c USING (doc_id)
        |ORDER BY f.doc_id""".stripMargin,

    // m35: Haralick GLCM sums — horizontal pairs via idx+1 self-join,
    // exact contrast/energy/floor-ppm homogeneity
    query("m35_glcm", Multimodal.pgmGate(Multimodal.glcmStats, "doc_id")) oracle
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
        |v AS (SELECT doc_id, CAST(i AS INT) AS idx,
        |        (CAST(i AS INT) - 1) % 8 AS x,
        |        ord(text[CAST(i AS INT)]) AS v
        |      FROM d, UNNEST(range(1, 65)) t(i)),
        |pr AS (SELECT a.doc_id, a.v AS va, b.v AS vb
        |       FROM v a JOIN v b ON a.doc_id = b.doc_id
        |         AND b.idx = a.idx + 1 AND a.x < 7),
        |s AS (SELECT doc_id,
        |        CAST(sum((va - vb) * (va - vb)) AS BIGINT) AS contrast,
        |        CAST(sum(1000000 // ((1 + (va - vb) * (va - vb)) * 56)) AS BIGINT)
        |          AS homogeneity_ppm
        |      FROM pr GROUP BY 1),
        |cnt AS (SELECT doc_id, va, vb, CAST(count(*) AS BIGINT) AS c
        |        FROM pr GROUP BY 1, 2, 3),
        |en AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS energy_num
        |       FROM cnt GROUP BY 1)
        |SELECT s.doc_id, CAST(56 AS BIGINT) AS n_pairs, contrast,
        |  energy_num, homogeneity_ppm
        |FROM s JOIN en USING (doc_id) ORDER BY s.doc_id""".stripMargin,

    // m34: the Bayer 4x4 dither — white iff v > 16*B[y%4][x%4] + 8,
    // matrix as a flat list lookup, fold over the 0/255 stream
    query("m34_dither", Multimodal.pgmGate(Multimodal.orderedDither, "doc_id")) oracle
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
        |v AS (SELECT doc_id, CAST(i AS INT) AS idx,
        |        (CAST(i AS INT) - 1) // 8 AS y, (CAST(i AS INT) - 1) % 8 AS x,
        |        ord(text[CAST(i AS INT)]) AS v
        |      FROM d, UNNEST(range(1, 65)) t(i)),
        |o AS (SELECT doc_id, idx,
        |        CASE WHEN v > 16 * list_extract(
        |          [0,8,2,10,12,4,14,6,3,11,1,9,15,7,13,5],
        |          (y % 4) * 4 + (x % 4) + 1) + 8
        |        THEN 255 ELSE 0 END AS ov
        |      FROM v)
        |SELECT doc_id, CAST(64 AS INT) AS n_px,
        |  CAST(sum(CASE WHEN ov = 255 THEN 1 ELSE 0 END) AS INT) AS n_white,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    list(CAST(ov AS BIGINT) ORDER BY idx),
        |    (acc, xx) -> (acc * 31 + xx) % 1000000007) AS dith_checksum
        |FROM o GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // m33: the run census — runs counted with a lag window over ord()
    // pixels, distinct bytes, naive 2-byte-per-run RLE size, floor-ppm
    // ratio
    query("m33_rle_signal", Multimodal.pgmGate(Multimodal.rleSignal, "doc_id")) oracle
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
        |v AS (SELECT doc_id, CAST(i AS INT) AS idx,
        |        ord(text[CAST(i AS INT)]) AS v
        |      FROM d, UNNEST(range(1, 65)) t(i)),
        |l AS (SELECT doc_id, v,
        |        lag(v) OVER (PARTITION BY doc_id ORDER BY idx) AS pv
        |      FROM v),
        |a AS (SELECT doc_id,
        |        CAST(1 + count(CASE WHEN pv IS NOT NULL AND v <> pv THEN 1 END) AS INT) AS n_runs,
        |        CAST(count(DISTINCT v) AS INT) AS n_distinct
        |      FROM l GROUP BY 1)
        |SELECT doc_id, CAST(64 AS INT) AS n_px, n_runs, n_distinct,
        |  CAST(2 * n_runs AS BIGINT) AS rle_bytes,
        |  CAST(2 * n_runs AS BIGINT) * 1000000 // 64 AS ratio_ppm,
        |  2 * n_runs < 64 AS compressible
        |FROM a ORDER BY doc_id""".stripMargin,

    // m32: the ViT patch walk — pixels from ord(), patch = (y div 4,
    // x div 4), row-major fold + exact stats per patch
    query("m32_patchify", Multimodal.pgmGate(Multimodal.patchify(_),
      "doc_id", "patch_row", "patch_col")) oracle
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
        |v AS (SELECT doc_id, CAST(i AS INT) AS idx,
        |        (CAST(i AS INT) - 1) // 8 AS y, (CAST(i AS INT) - 1) % 8 AS x,
        |        ord(text[CAST(i AS INT)]) AS v
        |      FROM d, UNNEST(range(1, 65)) t(i))
        |SELECT doc_id, CAST(y // 4 AS INT) AS patch_row,
        |  CAST(x // 4 AS INT) AS patch_col,
        |  CAST(sum(v) AS BIGINT) AS sum_v,
        |  CAST(min(v) AS INT) AS lo, CAST(max(v) AS INT) AS hi,
        |  CAST(sum(v) // 16 AS BIGINT) AS mean_v,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    list(CAST(v AS BIGINT) ORDER BY idx),
        |    (acc, xx) -> (acc * 31 + xx) % 1000000007) AS pchk
        |FROM v GROUP BY 1, 2, 3
        |ORDER BY doc_id, patch_row, patch_col""".stripMargin,

    // m31: histogram equalization over REAL decoded pixels — the
    // oracle rebuilds the 8x8 gray raster from ord(), computes the
    // per-image CDF with a running-sum window, and replays the
    // (cdf - cdf_min)*255 // (n - cdf_min) remap plus the rolling fold
    // of the remapped stream
    // m37: Sobel edge density — the 3×3 gradient stencil replayed
    // relationally (offset join, CASE-free algebraic kernel weights),
    // L1 magnitudes, rolling checksum in (y, x) row-major order
    query("m37_sobel", Multimodal.pgmGate(Multimodal.sobelEdges(_), "doc_id")) oracle
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
        |v AS (SELECT doc_id, CAST(i AS INT) AS idx,
        |        CAST(ord(text[CAST(i AS INT)]) AS BIGINT) AS v
        |      FROM d, UNNEST(range(1, 65)) t(i)),
        |g AS (SELECT doc_id, CAST(x AS INT) AS x, CAST(y AS INT) AS y
        |      FROM d, UNNEST(range(1, 7)) tx(x), UNNEST(range(1, 7)) ty(y)),
        |o AS (SELECT CAST(dx AS INT) AS dx, CAST(dy AS INT) AS dy
        |      FROM UNNEST(range(-1, 2)) a(dx), UNNEST(range(-1, 2)) b(dy)),
        |s AS (SELECT g.doc_id, g.x, g.y,
        |        CAST(sum(o.dx * (2 - abs(o.dy)) * v.v) AS BIGINT) AS gx,
        |        CAST(sum(o.dy * (2 - abs(o.dx)) * v.v) AS BIGINT) AS gy
        |      FROM g CROSS JOIN o
        |      JOIN v ON v.doc_id = g.doc_id
        |        AND v.idx = (g.y + o.dy) * 8 + (g.x + o.dx) + 1
        |      GROUP BY 1, 2, 3),
        |m AS (SELECT doc_id, x, y, abs(gx) + abs(gy) AS mag FROM s),
        |f AS (SELECT doc_id,
        |        CAST(count(*) AS BIGINT) AS n_interior,
        |        CAST(sum(CASE WHEN mag >= 128 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_edges,
        |        CAST(sum(mag) AS BIGINT) AS mag_sum,
        |        CAST(max(mag) AS BIGINT) AS mag_max,
        |        list_reduce([CAST(0 AS BIGINT)] ||
        |          list(CAST(mag AS BIGINT) ORDER BY y, x),
        |          (acc, xx) -> (acc * 31 + xx) % 1000000007) AS edge_checksum
        |      FROM m GROUP BY 1)
        |SELECT doc_id, n_interior, n_edges, mag_sum, mag_max, edge_checksum
        |FROM f ORDER BY doc_id""".stripMargin,

    // m40: two-level Otsu — the 3-class threshold-pair argmax over
    // present-level pairs on the same 2^20 grid (OtsuCtes supplies the
    // per-level prefix sums; its single-threshold tail CTEs go unused)
    query("m40_otsu2", Multimodal.pgmGate(Multimodal.otsu2Threshold, "doc_id")) oracle
      s"""WITH $OtsuCtes,
        |pairs AS (
        |  SELECT a.doc_id, a.v AS t1, b.v AS t2,
        |    a.n0 AS n1, a.s0 AS s1,
        |    b.n0 - a.n0 AS n2, b.s0 - a.s0 AS s2,
        |    t.n - b.n0 AS n3, t.s - b.s0 AS s3
        |  FROM cdf a JOIN cdf b ON b.doc_id = a.doc_id AND b.v > a.v
        |  JOIN tot t ON t.doc_id = a.doc_id
        |  WHERE t.n - b.n0 > 0),
        |scored2 AS (SELECT doc_id, t1, t2,
        |    (s1 * s1 * 1048576) // n1 + (s2 * s2 * 1048576) // n2 +
        |    (s3 * s3 * 1048576) // n3 AS score
        |  FROM pairs),
        |pick2 AS (SELECT doc_id, t1, t2, score FROM (
        |    SELECT p.*, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, t1, t2) AS rn
        |    FROM scored2 p) x
        |  WHERE rn = 1),
        |pf2 AS (SELECT t.doc_id,
        |    CAST(coalesce(p.t1, t.vmax) AS INT) AS t1,
        |    CAST(coalesce(p.t2, t.vmax) AS INT) AS t2,
        |    CAST(coalesce(p.score, 0) AS BIGINT) AS score
        |  FROM tot t LEFT JOIN pick2 p USING (doc_id)),
        |o AS (SELECT v.doc_id, v.idx,
        |    CASE WHEN v.v <= p.t1 THEN 0 WHEN v.v <= p.t2 THEN 128
        |         ELSE 255 END AS qv
        |  FROM v JOIN pf2 p USING (doc_id)),
        |f AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN qv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |    CAST(sum(CASE WHEN qv = 128 THEN 1 ELSE 0 END) AS BIGINT) AS n_mid,
        |    CAST(sum(CASE WHEN qv = 255 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_high,
        |    list_reduce([CAST(0 AS BIGINT)] ||
        |      list(CAST(qv AS BIGINT) ORDER BY idx),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS tri_checksum
        |  FROM o GROUP BY 1)
        |SELECT p.doc_id, p.t1, p.t2, p.score, f.n_low, f.n_mid, f.n_high,
        |  f.tri_checksum
        |FROM pf2 p JOIN f USING (doc_id) ORDER BY p.doc_id""".stripMargin,

    // m36: Otsu threshold — per-image between-class-variance argmax on
    // the exact 2^20-scaled integer grid (candidates = present gray
    // levels with a non-empty upper class, tie-break smallest level;
    // flat images fall back to their single level), plus the binarized
    // stream's rolling checksum
    query("m36_otsu", Multimodal.pgmGate(Multimodal.otsuThreshold, "doc_id")) oracle
      s"""WITH $OtsuCtes,
        |o AS (SELECT v.doc_id, v.idx,
        |        CASE WHEN v.v > p.threshold THEN 255 ELSE 0 END AS ov
        |      FROM v JOIN pf p USING (doc_id)),
        |f AS (SELECT doc_id,
        |        list_reduce([CAST(0 AS BIGINT)] ||
        |          list(CAST(ov AS BIGINT) ORDER BY idx),
        |          (acc, x) -> (acc * 31 + x) % 1000000007) AS bin_checksum
        |      FROM o GROUP BY 1)
        |SELECT p.doc_id, p.threshold, p.score, p.n_bg, p.n_fg,
        |  f.bin_checksum
        |FROM pf p JOIN f USING (doc_id) ORDER BY p.doc_id""".stripMargin,

    // m38: connected components on the m36-binarized raster — min-label
    // propagation to the provable 63-round 8×8 bound (OtsuCtes is the
    // ONE threshold definition shared with m36)
    query("m38_cc_label", Multimodal.pgmGate(Multimodal.ccLabel, "doc_id")) oracle
      ccLabelSql(rounds = 63),

    // m39: histogram entropy — the Theil algebra on pixels
    query("m39_hist_entropy", Multimodal.pgmGate(Multimodal.histEntropy, "doc_id")) oracle
      histEntropySql,

    query("m31_hist_equalize", Multimodal.pgmGate(Multimodal.histEqualize, "doc_id")) oracle
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
        |v AS (SELECT doc_id, CAST(i AS INT) AS idx,
        |        ord(text[CAST(i AS INT)]) AS v
        |      FROM d, UNNEST(range(1, 65)) t(i)),
        |cnt AS (SELECT doc_id, v, CAST(count(*) AS BIGINT) AS c
        |        FROM v GROUP BY 1, 2),
        |cdf AS (SELECT doc_id, v,
        |          sum(c) OVER (PARTITION BY doc_id ORDER BY v) AS cdf
        |        FROM cnt),
        |st AS (SELECT doc_id, min(v) AS lo_in, max(v) AS hi_in
        |       FROM v GROUP BY 1),
        |mn AS (SELECT c.doc_id, c.cdf AS cdf_min
        |       FROM cdf c JOIN st ON c.doc_id = st.doc_id AND c.v = st.lo_in),
        |mp AS (SELECT cdf.doc_id, v,
        |         CASE WHEN 64 = cdf_min THEN 0
        |              ELSE CAST((cdf - cdf_min) * 255 // (64 - cdf_min) AS INT)
        |         END AS ov
        |       FROM cdf JOIN mn USING (doc_id)),
        |o AS (SELECT v.doc_id, idx, ov FROM v JOIN mp USING (doc_id, v)),
        |f AS (SELECT doc_id,
        |        list_reduce([CAST(0 AS BIGINT)] ||
        |          list(CAST(ov AS BIGINT) ORDER BY idx),
        |          (acc, x) -> (acc * 31 + x) % 1000000007) AS eq_checksum,
        |        CAST(min(ov) AS INT) AS lo_out,
        |        CAST(max(ov) AS INT) AS hi_out
        |      FROM o GROUP BY 1)
        |SELECT st.doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CAST(lo_in AS INT) AS lo_in, CAST(hi_in AS INT) AS hi_in,
        |  lo_out, hi_out, eq_checksum
        |FROM st JOIN f USING (doc_id) ORDER BY st.doc_id""".stripMargin,

    // m30: leading/trailing silence trim over REAL decoded PCM — the
    // oracle rebuilds the quiet-wrapped sample stream (quiet zones
    // from doc_id arithmetic, body from ord()) and replays the
    // first-loud/last-loud rule + the kept-region rolling fold
    query("m30_silence_trim", Multimodal.silenceTrimGate) oracle
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
        |v AS (
        |  SELECT doc_id, CAST(i AS INT) AS idx,
        |    CAST(((doc_id + i) % 5) - 2 AS INT) AS s
        |  FROM d, UNNEST(range(0, doc_id % 7)) t(i)
        |  UNION ALL
        |  SELECT doc_id, CAST(doc_id % 7 + i - 1 AS INT),
        |    CAST((ord(text[CAST(i AS INT)]) - 96) * 128 AS INT)
        |  FROM d, UNNEST(range(1, 65)) t(i)
        |  UNION ALL
        |  SELECT doc_id, CAST(doc_id % 7 + 64 + i AS INT),
        |    CAST(((doc_id + i) % 5) - 2 AS INT)
        |  FROM d, UNNEST(range(0, (doc_id // 7) % 5)) t(i)
        |),
        |a AS (
        |  SELECT doc_id, CAST(count(*) AS INT) AS n,
        |    min(CASE WHEN abs(s) >= 256 THEN idx END) AS fl,
        |    max(CASE WHEN abs(s) >= 256 THEN idx END) AS ll
        |  FROM v GROUP BY 1
        |),
        |c AS (
        |  SELECT v.doc_id,
        |    list_reduce([CAST(0 AS BIGINT)] ||
        |      list(CAST(s + 32768 AS BIGINT) ORDER BY idx),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS kept_checksum
        |  FROM v JOIN a USING (doc_id)
        |  WHERE idx >= fl AND idx <= ll GROUP BY 1
        |)
        |SELECT a.doc_id, n AS n_samples,
        |  CAST(CASE WHEN fl IS NULL THEN n ELSE fl END AS INT) AS lead_trim,
        |  CAST(CASE WHEN fl IS NULL THEN 0 ELSE n - 1 - ll END AS INT) AS tail_trim,
        |  CAST(CASE WHEN fl IS NULL THEN 0 ELSE ll - fl + 1 END AS INT) AS kept_n,
        |  CAST(COALESCE(c.kept_checksum, 0) AS BIGINT) AS kept_checksum
        |FROM a LEFT JOIN c USING (doc_id) ORDER BY a.doc_id""".stripMargin,

    // m08: the 15-bit frame-energy-gradient audio fingerprint — 16
    // frames of 4 samples, exact integer energies Σ|s|, bit f set iff
    // e(f) < e(f+1); the oracle assembles the same bits from ord()
    // arithmetic
    query("m08_audio_fingerprint", Multimodal.audioFingerprintGate) oracle
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
        |v AS (SELECT doc_id, CAST(i AS INT) - 1 AS idx,
        |        (ord(text[CAST(i AS INT)]) - 96) * 128 AS s
        |      FROM d, UNNEST(range(1, 65)) AS t(i)),
        |e AS (SELECT doc_id, idx // 4 AS f, sum(abs(s)) AS en
        |      FROM v GROUP BY 1, 2),
        |fp AS (SELECT a.doc_id,
        |    CAST(sum(CASE WHEN a.en < b.en THEN (1 << a.f) ELSE 0 END) AS BIGINT) AS ehash
        |  FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.f = a.f + 1
        |  GROUP BY a.doc_id)
        |SELECT doc_id, ehash FROM fp ORDER BY doc_id""".stripMargin,

    // m09: banded-hamming near-dup over m08's fingerprints — three
    // 5-bit bands (pigeonhole-exact for hamming <= 2), candidates from
    // band equality, exact popcount filter, UNION dedupes pairs caught
    // by more than one band
    query("m09_audio_neardup", Multimodal.audioNearDup(_, _)) oracle
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
        |v AS (SELECT doc_id, CAST(i AS INT) - 1 AS idx,
        |        (ord(text[CAST(i AS INT)]) - 96) * 128 AS s
        |      FROM d, UNNEST(range(1, 65)) AS t(i)),
        |e AS (SELECT doc_id, idx // 4 AS f, sum(abs(s)) AS en
        |      FROM v GROUP BY 1, 2),
        |fp AS (SELECT a.doc_id,
        |    CAST(sum(CASE WHEN a.en < b.en THEN (1 << a.f) ELSE 0 END) AS BIGINT) AS ehash
        |  FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.f = a.f + 1
        |  GROUP BY a.doc_id),
        |bkt AS (SELECT doc_id, ehash, ehash % 32 AS b0,
        |        (ehash // 32) % 32 AS b1, (ehash // 1024) % 32 AS b2 FROM fp)
        |SELECT a, b, hamming FROM (
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |    CAST(bit_count(xor(x.ehash, y.ehash)) AS INT) AS hamming
        |  FROM bkt x JOIN bkt y ON x.b0 = y.b0 AND x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.ehash, y.ehash)) <= 2
        |  UNION
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |    CAST(bit_count(xor(x.ehash, y.ehash)) AS INT) AS hamming
        |  FROM bkt x JOIN bkt y ON x.b1 = y.b1 AND x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.ehash, y.ehash)) <= 2
        |  UNION
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |    CAST(bit_count(xor(x.ehash, y.ehash)) AS INT) AS hamming
        |  FROM bkt x JOIN bkt y ON x.b2 = y.b2 AND x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.ehash, y.ehash)) <= 2
        |) u ORDER BY a, b""".stripMargin,

    // m10: REAL nearest-neighbor resize under the gate — the Spark
    // side decodes each document's 8x8 PGM and resizes DOWN to 4x4
    // (decimation: output (y,x) samples source (2y,2x)) and UP to
    // 16x16 (replication: output (y,x) samples source (y//2,x//2)),
    // checksumming each resized array; the oracle replays the index
    // arithmetic with ord() on the text prefix, never touching a
    // binary payload. Output index i maps row-major: down src =
    // ((i//4)*2)*8 + (i%4)*2, up src = ((i//16)//2)*8 + (i%16)//2.
    query("m10_resize_gate", Multimodal.resizeGate) oracle
      """SELECT doc_id,
        |  4 AS down_w, 4 AS down_h,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    list_transform(range(0, 16), i ->
        |      CAST(ord(text[CAST(((i // 4) * 2) * 8 + (i % 4) * 2 + 1 AS INT)]) AS BIGINT)),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS down_checksum,
        |  16 AS up_w, 16 AS up_h,
        |  list_reduce([CAST(0 AS BIGINT)] ||
        |    list_transform(range(0, 256), i ->
        |      CAST(ord(text[CAST(((i // 16) // 2) * 8 + (i % 16) // 2 + 1 AS INT)]) AS BIGINT)),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS up_checksum
        |FROM documents WHERE length(text) >= 64 ORDER BY doc_id""".stripMargin,
  )
}
