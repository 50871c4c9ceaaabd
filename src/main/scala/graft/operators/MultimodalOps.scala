package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Decoded media record: container format from magic-byte dispatch,
  * header fields where the format stores them at fixed offsets
  * (None elsewhere — e.g. JPEG dims live in variable-offset SOF
  * segments, MP4 dims in nested moov/trak/tkhd boxes), plus a 16-bin
  * byte histogram as the extracted feature. `brand` is the ISO-BMFF
  * ftyp major brand (MP4 only); `duration_ms` the mvhd movie duration
  * rescaled to milliseconds (MP4 only). */
final case class MmFeature(
    doc_id: Long,
    format: String,
    brand: Option[String],
    width: Option[Long],
    height: Option[Long],
    channels: Option[Long],
    sample_rate: Option[Long],
    duration_ms: Option[Long],
    byte_len: Long,
    hist: Array[Long])

/** Multimodal-column plumbing: treat media as opaque `binary` columns
  * and DECODE them — magic-byte container dispatch (PNG / JPEG / GIF /
  * BMP / RIFF-WAVE) plus fixed-offset header-field extraction (width,
  * height, channels, sample rate), the deterministic byte-math half of
  * a media codec. The pixel/sample decode behind the headers is the
  * part that needs native image/audio libs (absent in this
  * environment); everything up to it — format dispatch, header
  * parsing, the byte-histogram feature, the batched per-partition
  * decode shape a vectorized native codec plugs into — is real and
  * oracle-checked.
  *
  * The same codec runs through TWO independent paths, spec-pinned
  * equal: [[mediaFields]] (pure Catalyst expressions —
  * substring/hex/conv, whole-stage codegen, zero shuffle) and
  * [[decodeMedia]] (JVM byte parsing inside the fixed-size
  * `mapPartitions` batches a native decoder would use). The gate
  * payloads embed REAL format headers (constructed deterministically
  * in-query from doc_id, byte-identical in the DuckDB oracle's
  * list-domain arithmetic), so every dispatch branch is exercised
  * cross-engine, not just the raw fallback.
  */
object MultimodalOps {

  /** Typed metadata over a binary payload column — all plain Catalyst
    * expressions (byte length, magic header hex, md5 digest, byte-sum
    * checksum), fully pushdown/codegen friendly. */
  def binaryMeta(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        length(col("text").cast("binary")).cast("long").as("byte_len"),
        hex(substring(col("text"), 1, 4).cast("binary")).as("magic"),
        md5(col("text").cast("binary")).as("digest"),
        aggregate(transform(split(col("text"), ""), c => ascii(c)),
          lit(0L), (acc, x) => acc + x).as("checksum"))

  val binaryMetaSql: String =
    """SELECT doc_id,
      | octet_length(encode(text)) AS byte_len,
      | hex(encode(substring(text, 1, 4))) AS magic,
      | md5(text) AS digest,
      | CAST(list_sum(list_transform(string_split(text, ''), c -> ord(c))) AS BIGINT) AS checksum
      |FROM documents""".stripMargin

  // ---- header codec, expression path ----------------------------------
  // Byte access compiles to substring+hex+conv — codegen'd builtins, no
  // arrays, no UDF. Offsets are 1-based like SQL substring.

  private def byteAt(bin: Column, o: Int): Column =
    conv(hex(substring(bin, o, 1)), 16, 10).cast("int")
  private def be32e(bin: Column, o: Int): Column =
    conv(hex(substring(bin, o, 4)), 16, 10).cast("long")
  private def le16e(bin: Column, o: Int): Column =
    (byteAt(bin, o) + byteAt(bin, o + 1) * 256).cast("long")
  private def le32e(bin: Column, o: Int): Column =
    (byteAt(bin, o).cast("long") + byteAt(bin, o + 1).cast("long") * 256L +
      byteAt(bin, o + 2).cast("long") * 65536L +
      byteAt(bin, o + 3).cast("long") * 16777216L)

  /** Container dispatch + fixed-offset header fields over a binary
    * column. Classification requires the FULL fixed header to be
    * present (a truncated header is not decodable, so it falls to
    * `raw`), and each format's fields come from its published layout:
    * PNG IHDR big-endian dims + color type; GIF logical-screen
    * little-endian dims; BMP BITMAPINFOHEADER little-endian dims +
    * bits-per-pixel; RIFF/WAVE fmt-chunk channels + sample rate;
    * ISO-BMFF (MP4) ftyp dispatch + major brand (both fixed-offset —
    * ftyp must be the first box). JPEG and MP4 are otherwise
    * dispatched by magic only — JPEG dims live in variable-offset SOF
    * segments and MP4 dims/duration in nested moov boxes (a scan, not
    * a fixed-offset read), exactly what the native half of a codec is
    * for ([[decodeMedia]] walks both). */
  def mediaFields(bin: Column): Seq[Column] = {
    val n = length(bin)
    val isPng = n >= 26 && hex(substring(bin, 1, 8)) === "89504E470D0A1A0A"
    val isJpeg = n >= 4 && hex(substring(bin, 1, 3)) === "FFD8FF"
    val isGif = n >= 10 && hex(substring(bin, 1, 4)) === "47494638"
    val isBmp = n >= 30 && hex(substring(bin, 1, 2)) === "424D"
    val isWav = n >= 28 && hex(substring(bin, 1, 4)) === "52494646" &&
      hex(substring(bin, 9, 4)) === "57415645"
    // ISO-BMFF dispatch + major brand ARE fixed-offset reads (ftyp
    // must be the first box, ISO/IEC 14496-12 §4.3: size BE32, 'ftyp',
    // major brand at bytes 9-12); dims/duration live in nested
    // moov/trak boxes — a walk, decode-path only ([[mp4Meta]])
    val isMp4 = n >= 16 && hex(substring(bin, 5, 4)) === "66747970"
    val ct = byteAt(bin, 26) // PNG color type
    val pngCh = when(ct === 0, lit(1L)).when(ct === 2, lit(3L))
      .when(ct === 3, lit(1L)).when(ct === 4, lit(2L))
      .when(ct === 6, lit(4L)).otherwise(lit(null).cast("long"))
    Seq(
      when(isPng, "png").when(isJpeg, "jpeg").when(isGif, "gif")
        .when(isBmp, "bmp").when(isWav, "wav").when(isMp4, "mp4")
        .otherwise("raw").as("format"),
      // brand gated on the SAME dispatch precedence as format: bytes
      // 5-8 spelling 'ftyp' must not leak a brand when an earlier
      // branch wins the format column (e.g. a BMP whose LE32 file-size
      // field aliases to 0x66747970) — keeps this path and
      // [[decodeMedia]] (which emits brand only when mp4 dispatch won)
      // byte-identical on adversarial payloads
      when(isMp4 && !isPng && !isJpeg && !isGif && !isBmp && !isWav,
        substring(bin, 9, 4).cast("string")).as("brand"),
      when(isPng, be32e(bin, 17)).when(isGif, le16e(bin, 7))
        .when(isBmp, le32e(bin, 19)).as("width"),
      when(isPng, be32e(bin, 21)).when(isGif, le16e(bin, 9))
        .when(isBmp, le32e(bin, 23)).as("height"),
      when(isPng, pngCh)
        .when(isBmp, floor(le16e(bin, 29) / 8).cast("long"))
        .when(isWav, le16e(bin, 23)).as("channels"),
      when(isWav, le32e(bin, 25)).as("sample_rate"),
      lit(null).cast("long").as("duration_ms"), // mvhd is a nested-box read: decode path only
      n.cast("long").as("byte_len"))
  }

  // ---- gate payloads: real headers, constructed deterministically -----
  // doc_id % 6 picks the container; dims/channels/rate derive from
  // doc_id; the header bytes are assembled as a hex string (unhex →
  // binary) prepended to the document's text bytes. The DuckDB oracle
  // builds the identical byte list, so every dispatch branch — not
  // just the raw fallback ASCII text can reach — is hash-gated.

  private def hex2(c: Column) = lpad(hex(c), 2, "0")
  private def be32h(c: Column) = lpad(hex(c), 8, "0")
  private def le16h(c: Column) =
    concat(hex2(pmod(c, lit(256L))), hex2(floor(c / 256).cast("long")))
  private def le32h(c: Column) = concat(
    hex2(pmod(c, lit(256L))),
    hex2(pmod(floor(c / 256).cast("long"), lit(256L))),
    hex2(pmod(floor(c / 65536).cast("long"), lit(256L))),
    hex2(pmod(floor(c / 16777216).cast("long"), lit(256L))))

  private def be16h(c: Column) = lpad(hex(c), 4, "0")

  /** The 30-byte constructed BMP header (BM + 12 filler +
    * BITMAPINFOHEADER(40 declared): w/h LE32, planes 1, bpp 24) —
    * shared by [[taggedPayload]]'s tag-2 branch and the
    * [[imagePhash]] planted near-dup payloads, so the planted docs
    * dispatch as real BMPs through the same codec path. */
  private val bmpHeaderBytes = 30
  private def bmpHeaderHex(w: Column, h: Column): Column =
    concat(lit("424D" + "0" * 24), le32h(lit(40L)), le32h(w), le32h(h),
      lit("0100"), le16h(lit(24L)))

  /** The 10-byte constructed GIF header (GIF89a signature +
    * logical-screen w/h LE16) — shared by [[taggedPayload]]'s tag-1
    * branch and the GIF planted near-dup payloads, so the planted
    * docs dispatch as real GIFs through the same codec path. */
  private val gifHeaderBytes = 10
  private def gifHeaderHex(w: Column, h: Column): Column =
    concat(lit("474946383961"), le16h(w), le16h(h))

  /** The 28-byte constructed RIFF/WAVE header (RIFF + WAVE + fmt
    * chunk prefix, PCM tag, channels LE16 from id parity, sample rate
    * LE32 from id mod 5) — shared by [[taggedPayload]]'s tag-3 branch
    * and the [[audioPhash]] planted near-dup payloads, so the planted
    * docs dispatch as real WAVs through the same codec path. */
  private val audioHeaderBytes = 28
  private def wavHeaderHexFor(id: Column): Column =
    concat(
      lit("52494646" + "00000000" + "57415645" + "666D7420" +
        "10000000" + "0100"),
      le16h(lit(1L) + pmod(id, lit(2L))),
      le32h(lit(8000L) + pmod(id, lit(5L)) * 8000L))

  /** Unity transformation matrix (ISO/IEC 14496-12 §6.2.2) — the 36
    * constant bytes both mvhd and tkhd carry. */
  private val mp4UnityMatrixHex =
    "00010000" + "00000000" + "00000000" +
    "00000000" + "00010000" + "00000000" +
    "00000000" + "00000000" + "40000000"

  /** The mixed-format gate payload column (over `documents`). Two
    * JPEG variants: tag 4 is a BARE SOI+APP0-marker prefix (dispatch
    * fires, the segment walk runs into text bytes and finds no SOF —
    * dims stay null on every path), tag 5 is a REAL JFIF header —
    * full 16-byte APP0 segment followed by an SOF0 frame header with
    * BE16 dims and 3 components — so the [[decodeMedia]] segment
    * walk has an actual variable-offset SOF to find. THREE MP4
    * variants under tag 6 (split on id/8 then id/16 parity): a full
    * spec-shaped box tree with the SAMPLE-TABLE chain — ftyp(isom) +
    * moov[mvhd + trak[tkhd + mdia[mdhd(media timescale) +
    * minf[stbl[stts(3 id-derived run-length entries)]]]]] — so the
    * VFR media-time mapping has a real table to walk; the same tree
    * WITHOUT mdia (the constant-frame-rate degrade path stays
    * hash-gated); and a bare ftyp(mp42) prefix whose top-level walk
    * runs into text bytes and must degrade to brand-only. Tag 7
    * carries no header → raw. */
  def taggedPayload: Column =
    concat(unhex(taggedPayloadHexFor(col("doc_id"))), col("text").cast("binary"))

  /** The header-hex half of [[taggedPayload]], parameterized on the
    * id the container fields derive from — [[videoPhashSigs]]' planted
    * near-dup videos build their payload from a GROUP-shared surrogate
    * id (both members of a planted pair must demux to the identical
    * sample schedule, which id-derived duration/timescale/sample
    * tables would otherwise break). */
  private[operators] def taggedPayloadHexFor(id: Column): Column = {
    val w = lit(16L) + pmod(id, lit(1000L))
    val h = lit(16L) + pmod(id * 7, lit(1000L))
    val ct = when(pmod(id, lit(3L)) === 0, lit(0L))
      .when(pmod(id, lit(3L)) === 1, lit(2L)).otherwise(lit(6L))
    val ts = lit(600L) * (lit(1L) + pmod(id, lit(3L)))
    val dur = ts * (lit(1L) + pmod(id, lit(300L))) + pmod(id, lit(97L))
    val mvhdHex = concat(
      lit("0000006C" + "6D766864" + "00000000" + "00000000" + "00000000"),
      be32h(ts), be32h(dur),
      lit("00010000" + "0100" + "0000" + "00000000" + "00000000" +
        mp4UnityMatrixHex + "00000000" * 6 + "00000002"))
    val tkhdHex = concat(
      lit("0000005C" + "746B6864" + "00000007" + "00000000" + "00000000" +
        "00000001" + "00000000"),
      be32h(dur),
      lit("00000000" + "00000000" + "0000" + "0000" + "0000" + "0000" +
        mp4UnityMatrixHex),
      be32h(w * 65536L), be32h(h * 65536L))
    val mp4Hex = concat(
      lit("00000010" + "66747970" + "69736F6D" + "00000200" + // ftyp(16): brand isom
        "000000D8" + "6D6F6F76"), // moov(216) = 8 + mvhd(108) + trak(100)
      mvhdHex,
      lit("00000064" + "7472616B"), // trak(100) = 8 + tkhd(92)
      tkhdHex)
    // VFR variant: the trak additionally carries the sample-table
    // chain mdia[mdhd(media timescale) + minf[stbl[stts(3 run-length
    // entries, id-derived counts/deltas)]]] — the real media-time
    // mapping [[mp4TimeSample]] walks; the CFR variant above keeps
    // the constant-rate degrade path hash-gated
    val mtsQ = lit(200L) + pmod(id, lit(3L)) * 100L // quarter-delta: 200/300/400
    val mts = mtsQ * 4L // mdhd timescale 800/1200/1600
    val c1 = lit(1L) + pmod(id, lit(7L))
    val c2 = lit(1L) + pmod(id, lit(11L))
    val c3 = lit(1L) + pmod(id, lit(200L))
    val d1 = mtsQ * 4L // 1 s/frame
    val d2 = mtsQ // 0.25 s/frame
    val d3 = mtsQ * 8L // 2 s/frame
    val mdurMedia = c1 * d1 + c2 * d2 + c3 * d3
    val sttsHex = concat(
      lit("00000028" + "73747473" + "00000000" + "00000003"),
      be32h(c1), be32h(d1), be32h(c2), be32h(d2), be32h(c3), be32h(d3))
    // the byte-layout tables (fixed-size stsz + 2-run stsc + 3-chunk
    // stco with realistic inter-chunk gaps) — what makes the
    // FRAME→BYTE mapping real file offsets, not a stride model
    val ss = lit(16L) + pmod(id, lit(17L)) // fixed sample size 16..32
    val s1 = lit(1L) + pmod(id, lit(9L)) // chunks 1-2 rate
    val totalSamples = c1 + c2 + c3
    val o1 = lit(4096L) + pmod(id, lit(97L))
    val o2 = o1 + s1 * ss + 64L
    val o3 = o2 + s1 * ss + 128L
    val stszHex = concat(
      lit("00000014" + "7374737A" + "00000000"), be32h(ss), be32h(totalSamples))
    val stscHex = concat(
      lit("00000028" + "73747363" + "00000000" + "00000002" + "00000001"),
      be32h(s1),
      lit("00000001" + "00000003" + "00000100" + "00000001"))
    val stcoHex = concat(
      lit("0000001C" + "7374636F" + "00000000" + "00000003"),
      be32h(o1), be32h(o2), be32h(o3))
    val mdiaHex = concat(
      lit("000000B8" + "6D646961" + // mdia(184) = 8 + mdhd(32) + minf(144)
        "00000020" + "6D646864" + "00000000" + "00000000" + "00000000"),
      be32h(mts), be32h(mdurMedia),
      lit("00000000" + // mdhd language/pre_defined
        "00000090" + "6D696E66" + // minf(144) = 8 + stbl(136)
        "00000088" + "7374626C"), // stbl(136) = 8 + stts(40) + stsz(20) + stsc(40) + stco(28)
      sttsHex, stszHex, stscHex, stcoHex)
    val mp4VfrHex = concat(
      lit("00000010" + "66747970" + "69736F6D" + "00000200" +
        "00000190" + "6D6F6F76"), // moov(400) = 8 + mvhd(108) + trak(284)
      mvhdHex,
      lit("0000011C" + "7472616B"), // trak(284) = 8 + tkhd(92) + mdia(184)
      tkhdHex, mdiaHex)
    // PER-SAMPLE stsz variant (ids ≡ 38 mod 64 — the other half of
    // the VFR population): sample_size 0 + a 4-byte size per sample
    // (12 + (id+j) % 21), so the variable-size FRAME→BYTE path is
    // hash-gated, not just unit-spec'd (the mvhd-v1 promotion
    // precedent). Every enclosing box size recomputes from the
    // variable stsz length.
    val stszPsSize = lit(20L) + totalSamples * 4L
    val stszPsHex = concat(be32h(stszPsSize),
      lit("7374737A" + "00000000" + "00000000"), be32h(totalSamples),
      array_join(transform(sequence(lit(0L), totalSamples - 1L),
        j => be32h(lit(12L) + pmod(id + j, lit(21L)))), ""))
    val stblPs = stszPsSize + 116L // 8 + stts(40) + stsz + stsc(40) + stco(28)
    val mdiaPsHex = concat(
      be32h(stblPs + 48L), lit("6D646961" + // mdia = 8 + mdhd(32) + minf
        "00000020" + "6D646864" + "00000000" + "00000000" + "00000000"),
      be32h(mts), be32h(mdurMedia),
      lit("00000000"),
      be32h(stblPs + 8L), lit("6D696E66"), // minf = 8 + stbl
      be32h(stblPs), lit("7374626C"),
      sttsHex, stszPsHex, stscHex, stcoHex)
    val mp4VfrPsHex = concat(
      lit("00000010" + "66747970" + "69736F6D" + "00000200"),
      be32h(stblPs + 264L), lit("6D6F6F76"), // moov = 8 + mvhd(108) + trak
      mvhdHex,
      be32h(stblPs + 148L), lit("7472616B"), // trak = 8 + tkhd(92) + mdia
      tkhdHex, mdiaPsHex)
    val tag = pmod(id, lit(8L))
    val headerHex =
      when(tag === 0, concat( // PNG signature + IHDR(len 13): w/h BE32, depth 8, color type
        lit("89504E470D0A1A0A0000000D49484452"),
        be32h(w), be32h(h), lit("08"), hex2(ct)))
      .when(tag === 1, gifHeaderHex(w, h)) // GIF89a logical screen: w/h LE16
      .when(tag === 2, bmpHeaderHex(w, h))
      .when(tag === 3, wavHeaderHexFor(id)) // RIFF....WAVEfmt: channels LE16, rate LE32
      .when(tag === 4, lit("FFD8FFE0")) // JPEG SOI + APP0 marker, no SOF
      .when(tag === 5, concat( // JPEG SOI + full APP0(JFIF) + SOF0: h/w BE16, 3 comps
        lit("FFD8" + "FFE00010" + "4A46494600" + "0101" + "00" +
          "0001" + "0001" + "00" + "00" + "FFC00011" + "08"),
        be16h(h), be16h(w), lit("03" + "012200" + "021101" + "031101")))
      .when(tag === 6 && pmod(floor(id / 8).cast("long"), lit(2L)) === 0 &&
          pmod(floor(id / 16).cast("long"), lit(2L)) === 0 &&
          pmod(floor(id / 32).cast("long"), lit(2L)) === 1, mp4VfrPsHex)
      .when(tag === 6 && pmod(floor(id / 8).cast("long"), lit(2L)) === 0 &&
          pmod(floor(id / 16).cast("long"), lit(2L)) === 0, mp4VfrHex)
      .when(tag === 6 && pmod(floor(id / 8).cast("long"), lit(2L)) === 0, mp4Hex)
      .when(tag === 6, // bare ftyp, brand mp42: walk degrades to brand-only
        lit("00000010" + "66747970" + "6D703432" + "00000200"))
      .otherwise(lit(""))
    headerHex
  }

  /** Expression-path gate entry: dispatch + header decode over the
    * mixed-format payloads, one codegen'd projection — scan-speed,
    * zero shuffle. */
  /** Deterministic population slice for the big-SF oracle gates of
    * the recursive-CTE-twinned operators (mm_media_decode,
    * mm_feature, mm_time_sample): both engines keep only
    * doc_id ≡ [[gateSliceResidue]] (mod [[gateSliceModulus]]) — a
    * cheap scan-column filter on the JVM side, a WHERE in the twin's
    * base CTE — so the per-payload twin cost drops ~19× and the
    * walks fit the DuckDB probe budget at 60M-row scan scale.
    *
    * 19 is COPRIME to every payload-branch modulus (the format tag
    * mod 8, the mp4 sub-branch parities — classes mod 64, the phash
    * plant mod 80, the dim/rate/timescale params mod
    * 2/3/5/7/9/11/17/97/200/300/1000), so by CRT every decode branch
    * keeps ~1/19 of its population: each joint (mod 19, mod 64)
    * class holds ~41 docs at sf1 and ~411 at sf10 (contiguous ids).
    * Branch coverage is asserted in MultimodalSpec. */
  val gateSliceModulus = 19L
  val gateSliceResidue = 7L
  def gateSlice: Column = pmod(col("doc_id"), lit(gateSliceModulus)) === gateSliceResidue
  val gateSliceSqlWhere: String = s" WHERE doc_id % $gateSliceModulus = $gateSliceResidue"

  def mediaDecode(spark: SparkSession, dir: String,
                  docFilter: Column = lit(true)): DataFrame =
    // the payload lands in its own projection level so the 9 field
    // columns share ONE payload computation per row: codegen's
    // subexpression elimination does not hoist subtrees out of
    // CaseWhen branches (conditional evaluation), so inlining
    // taggedPayload into every field re-ran the full header-hex
    // assembly per column — and CollapseProject keeps this two-level
    // shape because the alias is non-cheap and referenced 9 times.
    // Measured at sf0.1: 2.71s -> 0.30s (subset bench, same box,
    // back-to-back).
    Tables(spark, dir, "documents").filter(docFilter)
      .select(col("doc_id"), taggedPayload.as("mm_bin"))
      .select(col("doc_id") +: mediaFields(col("mm_bin")): _*)

  /** [[gateSlice]] entry — identical decode, sliced population. */
  def mediaDecodeSlice(spark: SparkSession, dir: String): DataFrame =
    mediaDecode(spark, dir, gateSlice)

  /** The oracle's shared prefix: byte list = constructed header ++
    * text bytes, dims derived from doc_id exactly as [[taggedPayload]]
    * does (ASCII corpus ⇒ ord(char) = byte). `where` narrows the
    * population for the [[gateSlice]] twins (the twin cost is
    * per-payload, so the slice entries keep the recursive walks
    * inside the big-SF DuckDB probe budget). */
  private def mmPayloadCte(where: String = "", src: String = ""): String = {
    // `d` is AS MATERIALIZED: DuckDB inlines single-reference CTEs,
    // and the correlated/recursive consumers downstream re-evaluated
    // the whole payload-construction chain per outer row — measured
    // 209s → 2.0s on the mm_time_sample twin at sf0.01 with identical
    // rows (the effect that priced the walk twins out of the sf10
    // probe budget; fr2 and vph carry the same hint).
    // `src` overrides the payload SOURCE CTE: it must yield
    // (doc_id, pid, tb) where pid is the id the header fields derive
    // from (default: doc_id) and tb the body byte list (default: text
    // bytes) — the videoPhash twin substitutes a group-shared
    // surrogate pid + synthetic body for its planted near-dup videos.
    val srcSql = if (src.nonEmpty) src else
      s"""SELECT doc_id, doc_id AS pid,
      |  list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)) AS tb
      | FROM documents$where""".stripMargin
    s"""WITH RECURSIVE src AS (
      |$srcSql),
      |base AS (
      | SELECT doc_id, pid, tb,
      |  16 + pid % 1000 AS w, 16 + (pid * 7) % 1000 AS h,
      |  CASE pid % 3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 6 END AS ct,
      |  1 + pid % 2 AS wch, 8000 + (pid % 5) * 8000 AS rate,
      |  600 * (1 + pid % 3) AS ts,
      |  600 * (1 + pid % 3) * (1 + pid % 300) + pid % 97 AS dur,
      |  200 + (pid % 3) * 100 AS mtsq,
      |  1 + pid % 7 AS c1, 1 + pid % 11 AS c2, 1 + pid % 200 AS c3,
      |  pid % 8 AS tag
      | FROM src),
      |base2 AS (
      | SELECT *, (c1*mtsq*4 + c2*mtsq + c3*mtsq*8) AS mdm,
      |  16 + pid % 17 AS ss, 1 + pid % 9 AS s1,
      |  (c1 + c2 + c3) AS tots,
      |  20 + 4*(c1 + c2 + c3) AS zps,
      |  4096 + pid % 97 AS o1,
      |  4096 + pid % 97 + (1 + pid % 9) * (16 + pid % 17) + 64 AS o2,
      |  4096 + pid % 97 + 2 * (1 + pid % 9) * (16 + pid % 17) + 192 AS o3
      | FROM base),
      |hdr AS (
      | SELECT doc_id, tb, CASE tag
      |  WHEN 0 THEN [137,80,78,71,13,10,26,10, 0,0,0,13, 73,72,68,82,
      |   w//16777216%256, w//65536%256, w//256%256, w%256,
      |   h//16777216%256, h//65536%256, h//256%256, h%256, 8, ct]
      |  WHEN 1 THEN [71,73,70,56,57,97, w%256, w//256, h%256, h//256]
      |  WHEN 2 THEN [66,77, 0,0,0,0,0,0,0,0,0,0,0,0, 40,0,0,0,
      |   w%256, w//256%256, w//65536%256, w//16777216%256,
      |   h%256, h//256%256, h//65536%256, h//16777216%256, 1,0, 24,0]
      |  WHEN 3 THEN [82,73,70,70, 0,0,0,0, 87,65,86,69, 102,109,116,32,
      |   16,0,0,0, 1,0, wch%256, wch//256,
      |   rate%256, rate//256%256, rate//65536%256, rate//16777216%256]
      |  WHEN 4 THEN [255,216,255,224]
      |  WHEN 5 THEN [255,216, 255,224, 0,16, 74,70,73,70,0, 1,1, 0,
      |   0,1, 0,1, 0, 0,
      |   255,192, 0,17, 8, h//256%256, h%256, w//256%256, w%256,
      |   3, 1,34,0, 2,17,1, 3,17,1]
      |  WHEN 6 THEN CASE
      |   WHEN (pid // 8) % 2 = 0 AND (pid // 16) % 2 = 0
      |        AND (pid // 32) % 2 = 1 THEN
      |   [0,0,0,16, 102,116,121,112, 105,115,111,109, 0,0,2,0,
      |    0,0, (zps+380)//256%256, (zps+380)%256, 109,111,111,118,
      |    0,0,0,108, 109,118,104,100, 0,0,0,0, 0,0,0,0, 0,0,0,0,
      |    ts//16777216%256, ts//65536%256, ts//256%256, ts%256,
      |    dur//16777216%256, dur//65536%256, dur//256%256, dur%256,
      |    0,1,0,0, 1,0, 0,0, 0,0,0,0, 0,0,0,0,
      |    0,1,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0, 0,1,0,0, 0,0,0,0,
      |    0,0,0,0, 0,0,0,0, 64,0,0,0,
      |    0,0,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0,
      |    0,0,0,2,
      |    0,0, (zps+264)//256%256, (zps+264)%256, 116,114,97,107,
      |    0,0,0,92, 116,107,104,100, 0,0,0,7, 0,0,0,0, 0,0,0,0,
      |    0,0,0,1, 0,0,0,0,
      |    dur//16777216%256, dur//65536%256, dur//256%256, dur%256,
      |    0,0,0,0, 0,0,0,0, 0,0, 0,0, 0,0, 0,0,
      |    0,1,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0, 0,1,0,0, 0,0,0,0,
      |    0,0,0,0, 0,0,0,0, 64,0,0,0,
      |    w//256%256, w%256, 0,0, h//256%256, h%256, 0,0,
      |    0,0, (zps+164)//256%256, (zps+164)%256, 109,100,105,97,
      |    0,0,0,32, 109,100,104,100, 0,0,0,0, 0,0,0,0, 0,0,0,0,
      |    0,0, (mtsq*4)//256%256, (mtsq*4)%256,
      |    mdm//16777216%256, mdm//65536%256, mdm//256%256, mdm%256,
      |    0,0,0,0,
      |    0,0, (zps+124)//256%256, (zps+124)%256, 109,105,110,102,
      |    0,0, (zps+116)//256%256, (zps+116)%256, 115,116,98,108,
      |    0,0,0,40, 115,116,116,115, 0,0,0,0, 0,0,0,3,
      |    0,0,0,c1, 0,0, (mtsq*4)//256%256, (mtsq*4)%256,
      |    0,0,0,c2, 0,0, mtsq//256%256, mtsq%256,
      |    0,0,0,c3, 0,0, (mtsq*8)//256%256, (mtsq*8)%256,
      |    0,0, zps//256%256, zps%256, 115,116,115,122, 0,0,0,0,
      |    0,0,0,0, 0,0,0,tots]
      |   || flatten(list_transform(range(0, tots), j ->
      |        [CAST(0 AS BIGINT), 0, 0, 12 + (pid + j) % 21]))
      |   || [CAST(0 AS BIGINT),0,0,40, 115,116,115,99, 0,0,0,0, 0,0,0,2,
      |    0,0,0,1, 0,0,0,s1, 0,0,0,1,
      |    0,0,0,3, 0,0,1,0, 0,0,0,1,
      |    0,0,0,28, 115,116,99,111, 0,0,0,0, 0,0,0,3,
      |    0,0, o1//256%256, o1%256, 0,0, o2//256%256, o2%256,
      |    0,0, o3//256%256, o3%256]
      |   WHEN (pid // 8) % 2 = 0 AND (pid // 16) % 2 = 0 THEN
      |   [0,0,0,16, 102,116,121,112, 105,115,111,109, 0,0,2,0,
      |    0,0,1,144, 109,111,111,118,
      |    0,0,0,108, 109,118,104,100, 0,0,0,0, 0,0,0,0, 0,0,0,0,
      |    ts//16777216%256, ts//65536%256, ts//256%256, ts%256,
      |    dur//16777216%256, dur//65536%256, dur//256%256, dur%256,
      |    0,1,0,0, 1,0, 0,0, 0,0,0,0, 0,0,0,0,
      |    0,1,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0, 0,1,0,0, 0,0,0,0,
      |    0,0,0,0, 0,0,0,0, 64,0,0,0,
      |    0,0,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0,
      |    0,0,0,2,
      |    0,0,1,28, 116,114,97,107,
      |    0,0,0,92, 116,107,104,100, 0,0,0,7, 0,0,0,0, 0,0,0,0,
      |    0,0,0,1, 0,0,0,0,
      |    dur//16777216%256, dur//65536%256, dur//256%256, dur%256,
      |    0,0,0,0, 0,0,0,0, 0,0, 0,0, 0,0, 0,0,
      |    0,1,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0, 0,1,0,0, 0,0,0,0,
      |    0,0,0,0, 0,0,0,0, 64,0,0,0,
      |    w//256%256, w%256, 0,0, h//256%256, h%256, 0,0,
      |    0,0,0,184, 109,100,105,97,
      |    0,0,0,32, 109,100,104,100, 0,0,0,0, 0,0,0,0, 0,0,0,0,
      |    0,0, (mtsq*4)//256%256, (mtsq*4)%256,
      |    mdm//16777216%256, mdm//65536%256, mdm//256%256, mdm%256,
      |    0,0,0,0,
      |    0,0,0,144, 109,105,110,102,
      |    0,0,0,136, 115,116,98,108,
      |    0,0,0,40, 115,116,116,115, 0,0,0,0, 0,0,0,3,
      |    0,0,0,c1, 0,0, (mtsq*4)//256%256, (mtsq*4)%256,
      |    0,0,0,c2, 0,0, mtsq//256%256, mtsq%256,
      |    0,0,0,c3, 0,0, (mtsq*8)//256%256, (mtsq*8)%256,
      |    0,0,0,20, 115,116,115,122, 0,0,0,0, 0,0,0,ss, 0,0,0,tots,
      |    0,0,0,40, 115,116,115,99, 0,0,0,0, 0,0,0,2,
      |    0,0,0,1, 0,0,0,s1, 0,0,0,1,
      |    0,0,0,3, 0,0,1,0, 0,0,0,1,
      |    0,0,0,28, 115,116,99,111, 0,0,0,0, 0,0,0,3,
      |    0,0, o1//256%256, o1%256, 0,0, o2//256%256, o2%256,
      |    0,0, o3//256%256, o3%256]
      |   WHEN (pid // 8) % 2 = 0 THEN
      |   [0,0,0,16, 102,116,121,112, 105,115,111,109, 0,0,2,0,
      |    0,0,0,216, 109,111,111,118,
      |    0,0,0,108, 109,118,104,100, 0,0,0,0, 0,0,0,0, 0,0,0,0,
      |    ts//16777216%256, ts//65536%256, ts//256%256, ts%256,
      |    dur//16777216%256, dur//65536%256, dur//256%256, dur%256,
      |    0,1,0,0, 1,0, 0,0, 0,0,0,0, 0,0,0,0,
      |    0,1,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0, 0,1,0,0, 0,0,0,0,
      |    0,0,0,0, 0,0,0,0, 64,0,0,0,
      |    0,0,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0,
      |    0,0,0,2,
      |    0,0,0,100, 116,114,97,107,
      |    0,0,0,92, 116,107,104,100, 0,0,0,7, 0,0,0,0, 0,0,0,0,
      |    0,0,0,1, 0,0,0,0,
      |    dur//16777216%256, dur//65536%256, dur//256%256, dur%256,
      |    0,0,0,0, 0,0,0,0, 0,0, 0,0, 0,0, 0,0,
      |    0,1,0,0, 0,0,0,0, 0,0,0,0, 0,0,0,0, 0,1,0,0, 0,0,0,0,
      |    0,0,0,0, 0,0,0,0, 64,0,0,0,
      |    w//256%256, w%256, 0,0, h//256%256, h%256, 0,0]
      |   ELSE [0,0,0,16, 102,116,121,112, 109,112,52,50, 0,0,2,0] END
      |  ELSE CAST([] AS BIGINT[]) END AS hb
      | FROM base2),
      |p AS (SELECT doc_id, list_concat(hb, tb) AS b FROM hdr),
      |d AS MATERIALIZED (
      | SELECT doc_id, b, len(b) AS n,
      |  (len(b)>=26 AND b[1]=137 AND b[2]=80 AND b[3]=78 AND b[4]=71
      |   AND b[5]=13 AND b[6]=10 AND b[7]=26 AND b[8]=10) AS is_png,
      |  (len(b)>=4 AND b[1]=255 AND b[2]=216 AND b[3]=255) AS is_jpeg,
      |  (len(b)>=10 AND b[1]=71 AND b[2]=73 AND b[3]=70 AND b[4]=56) AS is_gif,
      |  (len(b)>=30 AND b[1]=66 AND b[2]=77) AS is_bmp,
      |  (len(b)>=28 AND b[1]=82 AND b[2]=73 AND b[3]=70 AND b[4]=70
      |   AND b[9]=87 AND b[10]=65 AND b[11]=86 AND b[12]=69) AS is_wav,
      |  (len(b)>=16 AND b[5]=102 AND b[6]=116 AND b[7]=121 AND b[8]=112) AS is_mp4
      | FROM p)""".stripMargin
  }

  /** DuckDB twin of [[decodeMedia]]'s bounded JPEG segment walk, as a
    * recursive CTE over (doc_id, pos): advance past APP/comment
    * segments by their BE16 length (standalone markers by 2), stop at
    * SOS/EOI/bounds/iteration-cap, and `jdim` reads dims off the
    * first SOFn position visited — operation-for-operation the JVM
    * walk, so the oracle gates it byte-for-byte. */
  private val mmJpegWalkCtes: String =
    """jseg(doc_id, pos, it) AS (
      | SELECT doc_id, 3, 0 FROM d WHERE is_jpeg
      | UNION ALL
      | SELECT s.doc_id,
      |  CASE WHEN d.b[s.pos+1] = 216 OR d.b[s.pos+1] = 1
      |        OR (d.b[s.pos+1] BETWEEN 208 AND 215)
      |   THEN s.pos + 2
      |   ELSE s.pos + 2 + d.b[s.pos+2]*256 + d.b[s.pos+3] END,
      |  s.it + 1
      | FROM jseg s JOIN d USING (doc_id)
      | WHERE s.it < 64 AND s.pos + 3 <= d.n AND d.b[s.pos] = 255
      |  AND d.b[s.pos+1] NOT IN (217, 218)
      |  AND NOT (d.b[s.pos+1] BETWEEN 192 AND 207
      |           AND d.b[s.pos+1] NOT IN (196, 200, 204))
      |  AND (d.b[s.pos+1] = 216 OR d.b[s.pos+1] = 1
      |       OR (d.b[s.pos+1] BETWEEN 208 AND 215)
      |       OR d.b[s.pos+2]*256 + d.b[s.pos+3] >= 2)),
      |jsof AS (
      | SELECT s.doc_id, min(s.pos) AS pos
      | FROM jseg s JOIN d USING (doc_id)
      | WHERE s.it < 64 AND s.pos + 3 <= d.n AND s.pos + 9 <= d.n
      |  AND d.b[s.pos] = 255
      |  AND d.b[s.pos+1] BETWEEN 192 AND 207
      |  AND d.b[s.pos+1] NOT IN (196, 200, 204)
      | GROUP BY s.doc_id),
      |jdim AS (
      | SELECT j.doc_id,
      |  CAST(d.b[j.pos+7]*256 + d.b[j.pos+8] AS BIGINT) AS jw,
      |  CAST(d.b[j.pos+5]*256 + d.b[j.pos+6] AS BIGINT) AS jh,
      |  CAST(d.b[j.pos+9] AS BIGINT) AS jc
      | FROM jsof j JOIN d USING (doc_id))""".stripMargin

  /** DuckDB twin of [[mp4Meta]]'s bounded ISO-BMFF box walk, as three
    * chained recursive CTEs mirroring the walk's three levels —
    * top-level boxes, moov children, trak children — each advancing
    * `pos += size(BE32)` while the box passes the walk's validity
    * gate (header in bounds, size ≥ 8, box inside the enclosure,
    * ≤ 64 boxes). Field extractors re-apply the walk's per-box
    * conditions (type match at a VALID visited box, the version-0
    * size minimums, version byte 0) and take the first match
    * (min pos), operation-for-operation the JVM walk. Deliberately
    * JVM-ONLY branches (the twin does not mirror them; a gate payload
    * exercising one would diverge BY DESIGN and must extend the twin
    * first): the largesize (size = 1) and to-end (size = 0) escapes,
    * AND the version-1 mvhd (64-bit timescale-offset/duration) and
    * version-1 tkhd (longer fixed header before the 16.16 dims)
    * layouts — gate payloads are all version 0; the v1 layouts are
    * pinned by the constructed-array unit specs instead. Also
    * JVM-only: the stts oversized-value rejection (count/delta ≥ 2^31
    * degrades to CFR on the JVM where the twin would compute or
    * raise — unit-spec'd, unreachable by gate payloads). mvhd/tkhd
    * match arms are depth-gated to ≤ 2 on the JVM so the
    * mdia/minf/stbl descent cannot reach an mvhd/tkhd the twin's
    * moov/trak-level extractors would miss. */
  private val mmMp4WalkCtes: String =
    """mtop(doc_id, pos, it) AS (
      | SELECT doc_id, 1, 0 FROM d WHERE is_mp4
      | UNION ALL
      | SELECT t.doc_id,
      |  t.pos + (d.b[t.pos]*16777216 + d.b[t.pos+1]*65536 + d.b[t.pos+2]*256 + d.b[t.pos+3]),
      |  t.it + 1
      | FROM mtop t JOIN d USING (doc_id)
      | WHERE t.it < 64 AND t.pos + 7 <= d.n
      |  AND d.b[t.pos]*16777216 + d.b[t.pos+1]*65536 + d.b[t.pos+2]*256 + d.b[t.pos+3]
      |      BETWEEN 8 AND d.n - t.pos + 1),
      |mftyp AS (
      | SELECT t.doc_id, min(t.pos) AS pos
      | FROM mtop t JOIN d USING (doc_id)
      | WHERE t.it < 64 AND t.pos + 7 <= d.n
      |  AND d.b[t.pos]*16777216 + d.b[t.pos+1]*65536 + d.b[t.pos+2]*256 + d.b[t.pos+3]
      |      BETWEEN 12 AND d.n - t.pos + 1
      |  AND d.b[t.pos+4]=102 AND d.b[t.pos+5]=116 AND d.b[t.pos+6]=121 AND d.b[t.pos+7]=112
      | GROUP BY t.doc_id),
      |mbrand AS (
      | SELECT f.doc_id,
      |  chr(CAST(d.b[f.pos+8] AS INT)) || chr(CAST(d.b[f.pos+9] AS INT)) ||
      |  chr(CAST(d.b[f.pos+10] AS INT)) || chr(CAST(d.b[f.pos+11] AS INT)) AS brand
      | FROM mftyp f JOIN d USING (doc_id)
      | WHERE NOT (d.is_png OR d.is_jpeg OR d.is_gif OR d.is_bmp OR d.is_wav)),
      |mmoov AS (
      | SELECT t.doc_id, min(t.pos) AS pos
      | FROM mtop t JOIN d USING (doc_id)
      | WHERE t.it < 64 AND t.pos + 7 <= d.n
      |  AND d.b[t.pos]*16777216 + d.b[t.pos+1]*65536 + d.b[t.pos+2]*256 + d.b[t.pos+3]
      |      BETWEEN 8 AND d.n - t.pos + 1
      |  AND d.b[t.pos+4]=109 AND d.b[t.pos+5]=111 AND d.b[t.pos+6]=111 AND d.b[t.pos+7]=118
      | GROUP BY t.doc_id),
      |mchild(doc_id, pos, endp, it) AS (
      | SELECT m.doc_id, m.pos + 8,
      |  m.pos + (d.b[m.pos]*16777216 + d.b[m.pos+1]*65536 + d.b[m.pos+2]*256 + d.b[m.pos+3]),
      |  0
      | FROM mmoov m JOIN d USING (doc_id)
      | UNION ALL
      | SELECT c.doc_id,
      |  c.pos + (d.b[c.pos]*16777216 + d.b[c.pos+1]*65536 + d.b[c.pos+2]*256 + d.b[c.pos+3]),
      |  c.endp, c.it + 1
      | FROM mchild c JOIN d USING (doc_id)
      | WHERE c.it < 64 AND c.pos + 8 <= c.endp
      |  AND d.b[c.pos]*16777216 + d.b[c.pos+1]*65536 + d.b[c.pos+2]*256 + d.b[c.pos+3]
      |      BETWEEN 8 AND c.endp - c.pos),
      |mmvhd AS (
      | SELECT doc_id, min(pos) AS pos FROM mchild c JOIN d USING (doc_id)
      | WHERE c.it < 64 AND c.pos + 8 <= c.endp
      |  AND d.b[c.pos]*16777216 + d.b[c.pos+1]*65536 + d.b[c.pos+2]*256 + d.b[c.pos+3]
      |      BETWEEN 28 AND c.endp - c.pos
      |  AND d.b[c.pos+4]=109 AND d.b[c.pos+5]=118 AND d.b[c.pos+6]=104 AND d.b[c.pos+7]=100
      |  AND d.b[c.pos+8]=0
      | GROUP BY doc_id),
      |mms AS (
      | SELECT v.doc_id,
      |  CASE WHEN d.b[v.pos+20]*16777216 + d.b[v.pos+21]*65536 + d.b[v.pos+22]*256 + d.b[v.pos+23] > 0
      |   THEN CAST(((d.b[v.pos+24]*16777216 + d.b[v.pos+25]*65536 + d.b[v.pos+26]*256 + d.b[v.pos+27]) * 1000)
      |    // (d.b[v.pos+20]*16777216 + d.b[v.pos+21]*65536 + d.b[v.pos+22]*256 + d.b[v.pos+23]) AS BIGINT)
      |   END AS mdur_ms
      | FROM mmvhd v JOIN d USING (doc_id)),
      |mtrak AS (
      | SELECT doc_id, min(pos) AS pos FROM mchild c JOIN d USING (doc_id)
      | WHERE c.it < 64 AND c.pos + 8 <= c.endp
      |  AND d.b[c.pos]*16777216 + d.b[c.pos+1]*65536 + d.b[c.pos+2]*256 + d.b[c.pos+3]
      |      BETWEEN 8 AND c.endp - c.pos
      |  AND d.b[c.pos+4]=116 AND d.b[c.pos+5]=114 AND d.b[c.pos+6]=97 AND d.b[c.pos+7]=107
      | GROUP BY doc_id),
      |mtk(doc_id, pos, endp, it) AS (
      | SELECT k.doc_id, k.pos + 8,
      |  k.pos + (d.b[k.pos]*16777216 + d.b[k.pos+1]*65536 + d.b[k.pos+2]*256 + d.b[k.pos+3]),
      |  0
      | FROM mtrak k JOIN d USING (doc_id)
      | UNION ALL
      | SELECT t.doc_id,
      |  t.pos + (d.b[t.pos]*16777216 + d.b[t.pos+1]*65536 + d.b[t.pos+2]*256 + d.b[t.pos+3]),
      |  t.endp, t.it + 1
      | FROM mtk t JOIN d USING (doc_id)
      | WHERE t.it < 64 AND t.pos + 8 <= t.endp
      |  AND d.b[t.pos]*16777216 + d.b[t.pos+1]*65536 + d.b[t.pos+2]*256 + d.b[t.pos+3]
      |      BETWEEN 8 AND t.endp - t.pos),
      |mtkhd AS (
      | SELECT doc_id, min(pos) AS pos FROM mtk t JOIN d USING (doc_id)
      | WHERE t.it < 64 AND t.pos + 8 <= t.endp
      |  AND d.b[t.pos]*16777216 + d.b[t.pos+1]*65536 + d.b[t.pos+2]*256 + d.b[t.pos+3]
      |      BETWEEN 92 AND t.endp - t.pos
      |  AND d.b[t.pos+4]=116 AND d.b[t.pos+5]=107 AND d.b[t.pos+6]=104 AND d.b[t.pos+7]=100
      |  AND d.b[t.pos+8]=0
      | GROUP BY doc_id),
      |mdim AS (
      | SELECT k.doc_id,
      |  CAST((d.b[k.pos+84]*16777216 + d.b[k.pos+85]*65536 + d.b[k.pos+86]*256 + d.b[k.pos+87]) // 65536 AS BIGINT) AS vw,
      |  CAST((d.b[k.pos+88]*16777216 + d.b[k.pos+89]*65536 + d.b[k.pos+90]*256 + d.b[k.pos+91]) // 65536 AS BIGINT) AS vh
      | FROM mtkhd k JOIN d USING (doc_id))""".stripMargin

  /** DuckDB twin of the sample-table chain — three more chained
    * recursive-CTE levels below [[mmMp4WalkCtes]]'s trak walk (mdia
    * children, minf children, stbl children), then the mdhd media
    * timescale (version 0 — the v1 layout stays JVM-only, pinned by
    * unit specs like the mvhd/tkhd asymmetry) and the stts run-length
    * entries under the walk's own validity gates (first box wins,
    * size ≥ 16, 1 ≤ entry_count ≤ [[sttsMaxEntries]], declared size
    * covers the entries, every count and delta positive — a failed
    * gate drops the doc from `sttsok`, the CFR-degrade mirror). */
  private val mmSttsCtes: String =
    """mmdia AS (
      | SELECT doc_id, min(pos) AS pos FROM mtk t JOIN d USING (doc_id)
      | WHERE t.it < 64 AND t.pos + 8 <= t.endp
      |  AND d.b[t.pos]*16777216 + d.b[t.pos+1]*65536 + d.b[t.pos+2]*256 + d.b[t.pos+3]
      |      BETWEEN 8 AND t.endp - t.pos
      |  AND d.b[t.pos+4]=109 AND d.b[t.pos+5]=100 AND d.b[t.pos+6]=105 AND d.b[t.pos+7]=97
      | GROUP BY doc_id),
      |mdch(doc_id, pos, endp, it) AS (
      | SELECT m.doc_id, m.pos + 8,
      |  m.pos + (d.b[m.pos]*16777216 + d.b[m.pos+1]*65536 + d.b[m.pos+2]*256 + d.b[m.pos+3]),
      |  0
      | FROM mmdia m JOIN d USING (doc_id)
      | UNION ALL
      | SELECT c.doc_id,
      |  c.pos + (d.b[c.pos]*16777216 + d.b[c.pos+1]*65536 + d.b[c.pos+2]*256 + d.b[c.pos+3]),
      |  c.endp, c.it + 1
      | FROM mdch c JOIN d USING (doc_id)
      | WHERE c.it < 64 AND c.pos + 8 <= c.endp
      |  AND d.b[c.pos]*16777216 + d.b[c.pos+1]*65536 + d.b[c.pos+2]*256 + d.b[c.pos+3]
      |      BETWEEN 8 AND c.endp - c.pos),
      |mmdhd AS (
      | SELECT doc_id, min(pos) AS pos FROM mdch c JOIN d USING (doc_id)
      | WHERE c.it < 64 AND c.pos + 8 <= c.endp
      |  AND d.b[c.pos]*16777216 + d.b[c.pos+1]*65536 + d.b[c.pos+2]*256 + d.b[c.pos+3]
      |      BETWEEN 24 AND c.endp - c.pos
      |  AND d.b[c.pos+4]=109 AND d.b[c.pos+5]=100 AND d.b[c.pos+6]=104 AND d.b[c.pos+7]=100
      |  AND d.b[c.pos+8]=0
      | GROUP BY doc_id),
      |mmts AS (
      | SELECT h.doc_id,
      |  d.b[h.pos+20]*16777216 + d.b[h.pos+21]*65536 + d.b[h.pos+22]*256 + d.b[h.pos+23] AS mts
      | FROM mmdhd h JOIN d USING (doc_id)),
      |mminf AS (
      | SELECT doc_id, min(pos) AS pos FROM mdch c JOIN d USING (doc_id)
      | WHERE c.it < 64 AND c.pos + 8 <= c.endp
      |  AND d.b[c.pos]*16777216 + d.b[c.pos+1]*65536 + d.b[c.pos+2]*256 + d.b[c.pos+3]
      |      BETWEEN 8 AND c.endp - c.pos
      |  AND d.b[c.pos+4]=109 AND d.b[c.pos+5]=105 AND d.b[c.pos+6]=110 AND d.b[c.pos+7]=102
      | GROUP BY doc_id),
      |nfch(doc_id, pos, endp, it) AS (
      | SELECT m.doc_id, m.pos + 8,
      |  m.pos + (d.b[m.pos]*16777216 + d.b[m.pos+1]*65536 + d.b[m.pos+2]*256 + d.b[m.pos+3]),
      |  0
      | FROM mminf m JOIN d USING (doc_id)
      | UNION ALL
      | SELECT c.doc_id,
      |  c.pos + (d.b[c.pos]*16777216 + d.b[c.pos+1]*65536 + d.b[c.pos+2]*256 + d.b[c.pos+3]),
      |  c.endp, c.it + 1
      | FROM nfch c JOIN d USING (doc_id)
      | WHERE c.it < 64 AND c.pos + 8 <= c.endp
      |  AND d.b[c.pos]*16777216 + d.b[c.pos+1]*65536 + d.b[c.pos+2]*256 + d.b[c.pos+3]
      |      BETWEEN 8 AND c.endp - c.pos),
      |mstbl AS (
      | SELECT doc_id, min(pos) AS pos FROM nfch c JOIN d USING (doc_id)
      | WHERE c.it < 64 AND c.pos + 8 <= c.endp
      |  AND d.b[c.pos]*16777216 + d.b[c.pos+1]*65536 + d.b[c.pos+2]*256 + d.b[c.pos+3]
      |      BETWEEN 8 AND c.endp - c.pos
      |  AND d.b[c.pos+4]=115 AND d.b[c.pos+5]=116 AND d.b[c.pos+6]=98 AND d.b[c.pos+7]=108
      | GROUP BY doc_id),
      |sbch(doc_id, pos, endp, it) AS (
      | SELECT m.doc_id, m.pos + 8,
      |  m.pos + (d.b[m.pos]*16777216 + d.b[m.pos+1]*65536 + d.b[m.pos+2]*256 + d.b[m.pos+3]),
      |  0
      | FROM mstbl m JOIN d USING (doc_id)
      | UNION ALL
      | SELECT c.doc_id,
      |  c.pos + (d.b[c.pos]*16777216 + d.b[c.pos+1]*65536 + d.b[c.pos+2]*256 + d.b[c.pos+3]),
      |  c.endp, c.it + 1
      | FROM sbch c JOIN d USING (doc_id)
      | WHERE c.it < 64 AND c.pos + 8 <= c.endp
      |  AND d.b[c.pos]*16777216 + d.b[c.pos+1]*65536 + d.b[c.pos+2]*256 + d.b[c.pos+3]
      |      BETWEEN 8 AND c.endp - c.pos),
      |mstts AS (
      | SELECT doc_id, min(pos) AS pos FROM sbch c JOIN d USING (doc_id)
      | WHERE c.it < 64 AND c.pos + 8 <= c.endp
      |  AND d.b[c.pos]*16777216 + d.b[c.pos+1]*65536 + d.b[c.pos+2]*256 + d.b[c.pos+3]
      |      BETWEEN 16 AND c.endp - c.pos
      |  AND d.b[c.pos+4]=115 AND d.b[c.pos+5]=116 AND d.b[c.pos+6]=116 AND d.b[c.pos+7]=115
      | GROUP BY doc_id),
      |sttse AS (
      | SELECT s.doc_id, CAST(j AS BIGINT) AS eidx,
      |  d.b[s.pos+16+8*j]*16777216 + d.b[s.pos+17+8*j]*65536
      |   + d.b[s.pos+18+8*j]*256 + d.b[s.pos+19+8*j] AS cnt,
      |  d.b[s.pos+20+8*j]*16777216 + d.b[s.pos+21+8*j]*65536
      |   + d.b[s.pos+22+8*j]*256 + d.b[s.pos+23+8*j] AS dlt
      | FROM mstts s JOIN d USING (doc_id),
      |  LATERAL unnest(generate_series(0,
      |   d.b[s.pos+12]*16777216 + d.b[s.pos+13]*65536 + d.b[s.pos+14]*256 + d.b[s.pos+15] - 1))
      |   AS u(j)
      | WHERE d.b[s.pos+12]*16777216 + d.b[s.pos+13]*65536 + d.b[s.pos+14]*256 + d.b[s.pos+15]
      |       BETWEEN 1 AND 64
      |  AND d.b[s.pos]*16777216 + d.b[s.pos+1]*65536 + d.b[s.pos+2]*256 + d.b[s.pos+3]
      |      >= 16 + 8*(d.b[s.pos+12]*16777216 + d.b[s.pos+13]*65536 + d.b[s.pos+14]*256 + d.b[s.pos+15])),
      |sttsok AS (
      | SELECT doc_id FROM sttse GROUP BY doc_id
      | HAVING min(cnt) > 0 AND min(dlt) > 0),
      |mstsz AS (
      | SELECT doc_id, min(pos) AS pos FROM sbch c JOIN d USING (doc_id)
      | WHERE c.it < 64 AND c.pos + 8 <= c.endp
      |  AND d.b[c.pos]*16777216 + d.b[c.pos+1]*65536 + d.b[c.pos+2]*256 + d.b[c.pos+3]
      |      BETWEEN 20 AND c.endp - c.pos
      |  AND d.b[c.pos+4]=115 AND d.b[c.pos+5]=116 AND d.b[c.pos+6]=115 AND d.b[c.pos+7]=122
      | GROUP BY doc_id),
      |mfixed AS (
      | SELECT s.doc_id,
      |  d.b[s.pos+12]*16777216 + d.b[s.pos+13]*65536 + d.b[s.pos+14]*256 + d.b[s.pos+15] AS fixed
      | FROM mstsz s JOIN d USING (doc_id)
      | WHERE d.b[s.pos+12]*16777216 + d.b[s.pos+13]*65536 + d.b[s.pos+14]*256 + d.b[s.pos+15] > 0),
      |mvar AS (
      | SELECT s.doc_id, s.pos,
      |  d.b[s.pos+16]*16777216 + d.b[s.pos+17]*65536 + d.b[s.pos+18]*256 + d.b[s.pos+19] AS cnt
      | FROM mstsz s JOIN d USING (doc_id)
      | WHERE d.b[s.pos+12]*16777216 + d.b[s.pos+13]*65536 + d.b[s.pos+14]*256 + d.b[s.pos+15] = 0
      |  AND d.b[s.pos+16]*16777216 + d.b[s.pos+17]*65536 + d.b[s.pos+18]*256 + d.b[s.pos+19]
      |      BETWEEN 1 AND 256
      |  AND d.b[s.pos]*16777216 + d.b[s.pos+1]*65536 + d.b[s.pos+2]*256 + d.b[s.pos+3]
      |      >= 20 + 4*(d.b[s.pos+16]*16777216 + d.b[s.pos+17]*65536 + d.b[s.pos+18]*256 + d.b[s.pos+19])),
      |mvsz AS (
      | SELECT v.doc_id, CAST(j AS BIGINT) AS j,
      |  d.b[v.pos+20+4*j]*16777216 + d.b[v.pos+21+4*j]*65536
      |   + d.b[v.pos+22+4*j]*256 + d.b[v.pos+23+4*j] AS sz
      | FROM mvar v JOIN d USING (doc_id),
      |  LATERAL unnest(generate_series(0, v.cnt - 1)) AS u(j)),
      |mvok AS (SELECT doc_id FROM mvsz GROUP BY doc_id HAVING min(sz) > 0),
      |szok AS (
      | SELECT doc_id FROM mfixed UNION SELECT doc_id FROM mvok),
      |mstsc AS (
      | SELECT doc_id, min(pos) AS pos FROM sbch c JOIN d USING (doc_id)
      | WHERE c.it < 64 AND c.pos + 8 <= c.endp
      |  AND d.b[c.pos]*16777216 + d.b[c.pos+1]*65536 + d.b[c.pos+2]*256 + d.b[c.pos+3]
      |      BETWEEN 16 AND c.endp - c.pos
      |  AND d.b[c.pos+4]=115 AND d.b[c.pos+5]=116 AND d.b[c.pos+6]=115 AND d.b[c.pos+7]=99
      | GROUP BY doc_id),
      |mrsc AS (
      | SELECT s.doc_id, CAST(j AS BIGINT) AS j,
      |  d.b[s.pos+16+12*j]*16777216 + d.b[s.pos+17+12*j]*65536
      |   + d.b[s.pos+18+12*j]*256 + d.b[s.pos+19+12*j] AS fc,
      |  d.b[s.pos+20+12*j]*16777216 + d.b[s.pos+21+12*j]*65536
      |   + d.b[s.pos+22+12*j]*256 + d.b[s.pos+23+12*j] AS spc
      | FROM mstsc s JOIN d USING (doc_id),
      |  LATERAL unnest(generate_series(0,
      |   d.b[s.pos+12]*16777216 + d.b[s.pos+13]*65536 + d.b[s.pos+14]*256 + d.b[s.pos+15] - 1))
      |   AS u(j)
      | WHERE d.b[s.pos+12]*16777216 + d.b[s.pos+13]*65536 + d.b[s.pos+14]*256 + d.b[s.pos+15]
      |       BETWEEN 1 AND 64
      |  AND d.b[s.pos]*16777216 + d.b[s.pos+1]*65536 + d.b[s.pos+2]*256 + d.b[s.pos+3]
      |      >= 16 + 12*(d.b[s.pos+12]*16777216 + d.b[s.pos+13]*65536 + d.b[s.pos+14]*256 + d.b[s.pos+15])),
      |stscok AS (
      | SELECT doc_id FROM (
      |  SELECT doc_id, j, fc, spc,
      |   lag(fc) OVER (PARTITION BY doc_id ORDER BY j) AS pfc
      |  FROM mrsc)
      | GROUP BY doc_id
      | HAVING min(CASE WHEN j = 0 THEN fc END) = 1 AND min(spc) > 0
      |  AND min(CASE WHEN pfc IS NULL OR fc > pfc THEN 1 ELSE 0 END) = 1),
      |mstco AS (
      | SELECT doc_id, min(pos) AS pos FROM sbch c JOIN d USING (doc_id)
      | WHERE c.it < 64 AND c.pos + 8 <= c.endp
      |  AND d.b[c.pos]*16777216 + d.b[c.pos+1]*65536 + d.b[c.pos+2]*256 + d.b[c.pos+3]
      |      BETWEEN 16 AND c.endp - c.pos
      |  AND d.b[c.pos+4]=115 AND d.b[c.pos+5]=116 AND d.b[c.pos+6]=99 AND d.b[c.pos+7]=111
      | GROUP BY doc_id),
      |mcof AS (
      | SELECT s.doc_id, CAST(j AS BIGINT) AS j,
      |  d.b[s.pos+16+4*j]*16777216 + d.b[s.pos+17+4*j]*65536
      |   + d.b[s.pos+18+4*j]*256 + d.b[s.pos+19+4*j] AS off
      | FROM mstco s JOIN d USING (doc_id),
      |  LATERAL unnest(generate_series(0,
      |   d.b[s.pos+12]*16777216 + d.b[s.pos+13]*65536 + d.b[s.pos+14]*256 + d.b[s.pos+15] - 1))
      |   AS u(j)
      | WHERE d.b[s.pos+12]*16777216 + d.b[s.pos+13]*65536 + d.b[s.pos+14]*256 + d.b[s.pos+15]
      |       BETWEEN 1 AND 64
      |  AND d.b[s.pos]*16777216 + d.b[s.pos+1]*65536 + d.b[s.pos+2]*256 + d.b[s.pos+3]
      |      >= 16 + 4*(d.b[s.pos+12]*16777216 + d.b[s.pos+13]*65536 + d.b[s.pos+14]*256 + d.b[s.pos+15]))""".stripMargin

  /** The field select, parameterized on whether the path carries the
    * variable-offset walks (JPEG SOF segments, MP4 nested boxes): the
    * batched JVM path ([[decodeMedia]]) walks both for dims/duration,
    * the pure-expression path dispatches by magic only (variable-
    * offset scans are not a fixed-offset substring read — though the
    * MP4 brand IS fixed-offset, so both paths carry it) — each oracle
    * mirrors its own path. */
  private def mmSelect(deepWalk: Boolean): String = {
    // mp4 is the LAST branch of the JVM dispatch chain, so every
    // mp4-sourced field in the twin must lose to an earlier format —
    // a BMP whose LE32 size field aliases 'ftyp' at bytes 5-8 must
    // not leak a brand/duration/dims here when the JVM paths (which
    // dispatch once, precedence-ordered) emit none (the round-12
    // expression-path precedence fix, mirrored)
    val mp4Wins = "is_mp4 AND NOT is_png AND NOT is_jpeg AND NOT is_gif" +
      " AND NOT is_bmp AND NOT is_wav"
    val jw = if (deepWalk) " WHEN is_jpeg THEN jw" else ""
    val jh = if (deepWalk) " WHEN is_jpeg THEN jh" else ""
    val jc = if (deepWalk) " WHEN is_jpeg THEN jc" else ""
    // placed after the bmp arm: SQL CASE order = the JVM chain order
    val mw = if (deepWalk) s" WHEN $mp4Wins THEN vw" else ""
    val mh = if (deepWalk) s" WHEN $mp4Wins THEN vh" else ""
    val brand = if (deepWalk) "brand"
      else s"CASE WHEN $mp4Wins THEN concat(chr(CAST(b[9] AS INT)), chr(CAST(b[10] AS INT))," +
        " chr(CAST(b[11] AS INT)), chr(CAST(b[12] AS INT))) END"
    val dur = if (deepWalk) s"CAST(CASE WHEN $mp4Wins THEN mdur_ms END AS BIGINT)"
      else "CAST(NULL AS BIGINT)"
    s""" CASE WHEN is_png THEN 'png' WHEN is_jpeg THEN 'jpeg'
      |  WHEN is_gif THEN 'gif' WHEN is_bmp THEN 'bmp'
      |  WHEN is_wav THEN 'wav' WHEN is_mp4 THEN 'mp4' ELSE 'raw' END AS format,
      | $brand AS brand,
      | CAST(CASE WHEN is_png THEN b[17]*16777216 + b[18]*65536 + b[19]*256 + b[20]$jw
      |  WHEN is_gif THEN b[7] + b[8]*256
      |  WHEN is_bmp THEN b[19] + b[20]*256 + b[21]*65536 + b[22]*16777216$mw
      |  END AS BIGINT) AS width,
      | CAST(CASE WHEN is_png THEN b[21]*16777216 + b[22]*65536 + b[23]*256 + b[24]$jh
      |  WHEN is_gif THEN b[9] + b[10]*256
      |  WHEN is_bmp THEN b[23] + b[24]*256 + b[25]*65536 + b[26]*16777216$mh
      |  END AS BIGINT) AS height,
      | CAST(CASE WHEN is_png THEN
      |   CASE b[26] WHEN 0 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 1
      |    WHEN 4 THEN 2 WHEN 6 THEN 4 END$jc
      |  WHEN is_bmp THEN (b[29] + b[30]*256) // 8
      |  WHEN is_wav THEN b[23] + b[24]*256
      |  END AS BIGINT) AS channels,
      | CAST(CASE WHEN is_wav THEN
      |   b[25] + b[26]*256 + b[27]*65536 + b[28]*16777216
      |  END AS BIGINT) AS sample_rate,
      | $dur AS duration_ms,
      | CAST(n AS BIGINT) AS byte_len""".stripMargin
  }

  private def mediaDecodeSqlFor(where: String): String =
    mmPayloadCte(where) + "\nSELECT doc_id,\n" + mmSelect(deepWalk = false) + "\nFROM d"

  val mediaDecodeSql: String = mediaDecodeSqlFor("")

  /** [[gateSlice]] twin — identical decode, sliced population. */
  val mediaDecodeSliceSql: String = mediaDecodeSqlFor(gateSliceSqlWhere)

  // ---- header codec, batched JVM path ---------------------------------

  /** Bounded JPEG segment walk for frame dimensions — the one
    * container whose dims are NOT at a fixed offset: after SOI each
    * segment is `FF <marker> <BE16 length> <payload>`; APP/comment
    * segments are skipped by their declared length (standalone
    * markers — TEM, RSTn, a stray SOI — by 2 bytes), and the first
    * SOFn frame header (C0-CF minus the DHT/JPG/DAC holes C4/C8/CC)
    * carries precision(1) + height(BE16) + width(BE16) +
    * component-count(1). The walk is BOUNDED: 64 segments max, every
    * read bounds-checked, stop at SOS (entropy-coded data follows —
    * no SOF can legally appear after it) or EOI. Returns (width,
    * height, components); all-None when no SOF is found — a
    * truncated or dispatch-only prefix degrades, never throws. */
  private[graft] def jpegSofDims(p: Array[Byte]): (Option[Long], Option[Long], Option[Long]) = {
    val n = p.length
    def u(i: Int) = p(i) & 0xFF
    def be16(o: Int) = ((u(o) << 8) | u(o + 1)).toLong
    var pos = 2
    var it = 0
    while (it < 64 && pos + 3 < n && u(pos) == 0xFF) {
      val m = u(pos + 1)
      if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC) {
        return if (pos + 9 < n)
          (Some(be16(pos + 7)), Some(be16(pos + 5)), Some(u(pos + 9).toLong))
        else (None, None, None)
      }
      if (m == 0xD9 || m == 0xDA) return (None, None, None)
      if (m == 0xD8 || m == 0x01 || (m >= 0xD0 && m <= 0xD7)) pos += 2
      else {
        val len = be16(pos + 2).toInt
        if (len < 2) return (None, None, None)
        pos += 2 + len
      }
      it += 1
    }
    (None, None, None)
  }

  /** Bounded ISO-BMFF (MP4/MOV) box walk — the video container whose
    * metadata is NOT at fixed offsets: the file is a sequence of
    * `size(BE32) type(4cc) payload` boxes, where size 1 escapes to a
    * 64-bit largesize and size 0 means to-end-of-enclosure
    * (ISO/IEC 14496-12 §4.2); `moov` and `trak` are pure containers
    * whose payloads are themselves box sequences. The walk visits
    * top-level boxes and recurses ONLY into moov/trak (depth-capped),
    * extracting the ftyp major brand, the mvhd timescale + duration
    * (version 0 and 1 layouts), and the FIRST tkhd's 16.16
    * fixed-point width/height (v0 at payload+76/+80, v1 at +88/+92).
    * Bounded exactly like [[jpegSofDims]]: ≤ 64 boxes per level,
    * every read bounds-checked, a malformed size (< header, past the
    * enclosure, or an oversized largesize) stops the level — a
    * truncated or garbage tail degrades to absent fields, never an
    * OOB read. Returns (brand, width, height, duration_ms) where
    * duration_ms = ⌊duration·1000 / timescale⌋. */
  /** The sample-table byte layout (stsz + stsc + stco): per-sample
    * sizes (fixed-size form `sizeFixed > 0`, or the variable table),
    * the sample→chunk run map, and the chunk file offsets — what a
    * real demuxer reads to place sample i in the file. */
  private[graft] final case class ChunkLayout(
      sizeFixed: Long, sizes: Option[Array[Long]],
      runs: Array[(Long, Long)], offsets: Array[Long]) {
    /** samples_per_chunk for 1-based chunk k: the last stsc run whose
      * first_chunk ≤ k (runs are validated ascending-from-1). */
    private def spcOf(k: Long): Long = {
      var r = runs.head._2
      var i = 0
      while (i < runs.length && runs(i)._1 <= k) { r = runs(i)._2; i += 1 }
      r
    }
    /** File byte offset of 0-based sample i: walk chunks in order,
      * assign spc samples to each, then offset = the chunk's stco
      * base + the sizes of the prior samples in that chunk. None when
      * i lies beyond the declared chunks' capacity (malformed or
      * truncated layout — the caller degrades). */
    def offsetOf(i: Long): Option[Long] = {
      var acc = 0L
      var k = 0
      while (k < offsets.length) {
        val spc = spcOf(k + 1L)
        if (i < acc + spc) {
          val within = sizes match {
            case Some(sz) =>
              if (i > sz.length) return None
              var s = 0L
              var j = acc
              while (j < i) { s += sz(j.toInt); j += 1 }
              s
            case None => (i - acc) * sizeFixed
          }
          return Some(offsets(k) + within)
        }
        acc += spc
        k += 1
      }
      None
    }
  }

  /** Full result of the bounded box walk: the [[mp4Meta]] surface plus
    * the sample-timing tables ([[mp4TimeSample]]'s VFR inputs) — mdhd
    * media timescale and the stts (sample_count, sample_delta)
    * entries — and the byte layout ([[ChunkLayout]]), each None/0
    * when absent or malformed (graceful degrade per surface). */
  private[graft] final case class Mp4Walk(
      brand: Option[String], w: Option[Long], h: Option[Long],
      durMs: Option[Long], mdhdTs: Long, stts: Option[Array[(Long, Long)]],
      layout: Option[ChunkLayout])

  /** stts entry cap: a sample table with more entries than this
    * degrades to the CFR model rather than an unbounded read — the
    * ≤ 64-boxes-per-level stance applied to table entries. */
  private[graft] val sttsMaxEntries = 64

  private[graft] def mp4WalkAll(p: Array[Byte]): Mp4Walk = {
    val n = p.length
    def u(i: Int) = p(i) & 0xFF
    def be32(o: Int): Long = (u(o).toLong << 24) | (u(o + 1) << 16) | (u(o + 2) << 8) | u(o + 3)
    def be64(o: Int): Long = (be32(o) << 32) | be32(o + 4)
    def cc(o: Int) = new String(p, o, 4, "ISO-8859-1")
    var brand: Option[String] = None
    var w: Option[Long] = None
    var h: Option[Long] = None
    var timescale = 0L
    var duration = -1L
    var mdhdTs = 0L
    var stts: Option[Array[(Long, Long)]] = None
    var sttsSeen = false
    var stszFixed = 0L
    var stszSizes: Option[Array[Long]] = None
    var stszSeen = false
    var stscRuns: Option[Array[(Long, Long)]] = None
    var stscSeen = false
    var stcoOffs: Option[Array[Long]] = None
    var stcoSeen = false
    def walk(start: Int, end: Int, depth: Int): Unit = {
      var pos = start
      var it = 0
      while (it < 64 && pos + 8 <= end) {
        var size = be32(pos)
        var hdr = 8
        if (size == 1) {
          if (pos + 16 > end) return
          val large = be64(pos + 8)
          if (large < 16 || large > (end - pos).toLong) return
          size = large; hdr = 16
        } else if (size == 0) size = (end - pos).toLong
        if (size < hdr || size > (end - pos).toLong) return
        val boxEnd = pos + size.toInt
        cc(pos + 4) match {
          case "ftyp" if size >= hdr + 4 && brand.isEmpty =>
            brand = Some(cc(pos + hdr))
          // the sample-table chain trak→mdia→minf→stbl is three more
          // pure-container levels below the original moov/trak walk —
          // same recursion, same bounds, depth cap widened to fit it
          case "moov" | "trak" | "mdia" | "minf" | "stbl" if depth < 6 =>
            walk(pos + hdr, boxEnd, depth + 1)
          // depth ≤ 2 preserves the pre-stbl-walk reachability (mvhd
          // under moov = depth 1, tkhd under trak = depth 2): the
          // DuckDB twin extracts them only from moov/trak-level
          // children, so a deeper nested mvhd/tkhd (reachable since
          // the walk descends mdia/minf/stbl) must not win here
          case "mvhd" if timescale == 0 && depth <= 2 =>
            val v = if (size >= hdr + 1) u(pos + hdr) else -1
            if (v == 0 && size >= hdr + 20) {
              timescale = be32(pos + hdr + 12); duration = be32(pos + hdr + 16)
            } else if (v == 1 && size >= hdr + 32) {
              timescale = be32(pos + hdr + 20); duration = be64(pos + hdr + 24)
            }
          case "tkhd" if w.isEmpty && depth <= 2 =>
            val v = if (size >= hdr + 1) u(pos + hdr) else -1
            if (v == 0 && size >= hdr + 84) {
              w = Some(be32(pos + hdr + 76) >> 16); h = Some(be32(pos + hdr + 80) >> 16)
            } else if (v == 1 && size >= hdr + 96) {
              w = Some(be32(pos + hdr + 88) >> 16); h = Some(be32(pos + hdr + 92) >> 16)
            }
          case "mdhd" if mdhdTs == 0 =>
            // media timescale — the unit the stts deltas count in
            // (v1: 64-bit creation/modification push it 8 bytes out)
            val v = if (size >= hdr + 1) u(pos + hdr) else -1
            if (v == 0 && size >= hdr + 16) mdhdTs = be32(pos + hdr + 12)
            else if (v == 1 && size >= hdr + 24) mdhdTs = be32(pos + hdr + 20)
          case "stts" if !sttsSeen =>
            sttsSeen = true // first stts decides; a later one never overrides
            if (size >= hdr + 8) {
              val entryCount = be32(pos + hdr + 4)
              if (entryCount >= 1 && entryCount <= sttsMaxEntries &&
                size >= hdr + 8 + 8 * entryCount) {
                val es = Array.tabulate(entryCount.toInt) { j =>
                  (be32(pos + hdr + 8 + 8 * j), be32(pos + hdr + 12 + 8 * j))
                }
                // a non-positive count or delta is malformed: degrade
                // to CFR rather than divide-by-zero or loop forever.
                // counts/deltas ≥ 2^31 (raw u32 range) are rejected
                // too: sttsFrameAt's c*d products and cumulative sums
                // would silently wrap Long on an adversarial table
                // (wrong, possibly negative frame indices) where the
                // oracle would raise — oversized tables degrade to
                // CFR like the other malformed cases. The < 2^31
                // bound makes each c*d < 2^62; the cumulative check
                // below closes the 64-entry sum.
                var cum = 0L
                val ok = es.forall { case (c, d) =>
                  c > 0 && d > 0 && c < (1L << 31) && d < (1L << 31) && {
                    val cd = c * d
                    cum <= Long.MaxValue - cd && { cum += cd; true }
                  }
                }
                if (ok) stts = Some(es)
              }
            }
          case "stsz" if !stszSeen =>
            // fullbox: sample_size(4) + sample_count(4); sample_size 0
            // means a per-sample 32-bit size table follows
            stszSeen = true
            if (size >= hdr + 12) {
              val fixed = be32(pos + hdr + 4)
              val cnt = be32(pos + hdr + 8)
              if (fixed > 0) stszFixed = fixed
              else if (cnt >= 1 && cnt <= 256 && size >= hdr + 12 + 4 * cnt) {
                val sz = Array.tabulate(cnt.toInt)(j => be32(pos + hdr + 12 + 4 * j))
                if (sz.forall(_ > 0)) stszSizes = Some(sz)
              }
            }
          case "stsc" if !stscSeen =>
            // fullbox: entry_count, then (first_chunk, samples_per_chunk,
            // sample_description_index) runs — sdi ignored
            stscSeen = true
            if (size >= hdr + 8) {
              val cnt = be32(pos + hdr + 4)
              if (cnt >= 1 && cnt <= 64 && size >= hdr + 8 + 12 * cnt) {
                val rs = Array.tabulate(cnt.toInt) { j =>
                  (be32(pos + hdr + 8 + 12 * j), be32(pos + hdr + 12 + 12 * j))
                }
                // the run map must start at chunk 1, ascend strictly,
                // and carry positive rates — anything else degrades
                val ok = rs.head._1 == 1L && rs.forall(_._2 > 0) &&
                  rs.zip(rs.tail).forall { case (a, b) => a._1 < b._1 }
                if (ok) stscRuns = Some(rs)
              }
            }
          case "stco" if !stcoSeen =>
            stcoSeen = true
            if (size >= hdr + 8) {
              val cnt = be32(pos + hdr + 4)
              if (cnt >= 1 && cnt <= 64 && size >= hdr + 8 + 4 * cnt)
                stcoOffs = Some(Array.tabulate(cnt.toInt)(j =>
                  be32(pos + hdr + 8 + 4 * j)))
            }
          case _ =>
        }
        pos = boxEnd
        it += 1
      }
    }
    walk(0, n, 0)
    val durMs = if (timescale > 0 && duration >= 0) Some(duration * 1000L / timescale) else None
    // the byte layout needs all three tables coherent: one size form
    // (fixed XOR table), a valid run map, and chunk offsets
    val layout =
      if ((stszFixed > 0 || stszSizes.isDefined) &&
        stscRuns.isDefined && stcoOffs.isDefined)
        Some(ChunkLayout(stszFixed, stszSizes, stscRuns.get, stcoOffs.get))
      else None
    Mp4Walk(brand, w, h, durMs, mdhdTs, stts, layout)
  }

  private[graft] def mp4Meta(p: Array[Byte]): (Option[String], Option[Long], Option[Long], Option[Long]) = {
    val r = mp4WalkAll(p)
    (r.brand, r.w, r.h, r.durMs)
  }

  /** Media-time → sample ordinal through the stts table: the index of
    * the sample whose duration interval contains `tMedia` (in mdhd
    * units); instants past the table clamp to the last sample. */
  private[graft] def sttsFrameAt(tMedia: Long, entries: Array[(Long, Long)]): Long = {
    var cumC = 0L
    var cumD = 0L
    var i = 0
    while (i < entries.length) {
      val (c, d) = entries(i)
      if (tMedia < cumD + c * d) return cumC + (tMedia - cumD) / d
      cumC += c; cumD += c * d
      i += 1
    }
    math.max(0L, cumC - 1)
  }

  /** The same codec as [[mediaFields]], as plain JVM byte parsing —
    * the body a vectorized native decoder replaces, running inside
    * fixed-size per-partition batches. Also emits the 16-bin byte
    * histogram feature. Spec-pinned field-for-field equal to the
    * expression path — EXCEPT JPEG dims, which only this path
    * produces (the [[jpegSofDims]] segment walk; the expression path
    * stays dispatch-only by contract). */
  def decodeMedia(docId: Long, p: Array[Byte]): MmFeature = {
    val n = p.length
    def u(i: Int) = p(i) & 0xFF // 0-based
    def m(o: Int, bs: Int*) = bs.zipWithIndex.forall { case (b, i) => u(o + i) == b }
    def be32(o: Int) = (u(o).toLong << 24) | (u(o + 1) << 16) | (u(o + 2) << 8) | u(o + 3)
    def le16(o: Int) = (u(o) | (u(o + 1) << 8)).toLong
    def le32(o: Int) = u(o).toLong | (u(o + 1).toLong << 8) |
      (u(o + 2).toLong << 16) | (u(o + 3).toLong << 24)
    val isPng = n >= 26 && m(0, 0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    val isJpeg = n >= 4 && m(0, 0xFF, 0xD8, 0xFF)
    val isGif = n >= 10 && m(0, 'G', 'I', 'F', '8')
    val isBmp = n >= 30 && m(0, 'B', 'M')
    val isWav = n >= 28 && m(0, 'R', 'I', 'F', 'F') && m(8, 'W', 'A', 'V', 'E')
    val isMp4 = n >= 16 && m(4, 'f', 't', 'y', 'p')
    val (format, brand, width, height, channels, rate, durMs): (String, Option[String],
        Option[Long], Option[Long], Option[Long], Option[Long], Option[Long]) =
      if (isPng) {
        val ch = u(25) match {
          case 0 => Some(1L); case 2 => Some(3L); case 3 => Some(1L)
          case 4 => Some(2L); case 6 => Some(4L); case _ => None
        }
        ("png", None, Some(be32(16)), Some(be32(20)), ch, None, None)
      } else if (isJpeg) {
        val (jw, jh, jc) = jpegSofDims(p)
        ("jpeg", None, jw, jh, jc, None, None)
      }
      else if (isGif) ("gif", None, Some(le16(6)), Some(le16(8)), None, None, None)
      else if (isBmp) ("bmp", None, Some(le32(18)), Some(le32(22)), Some(le16(28) / 8), None, None)
      else if (isWav) ("wav", None, None, None, Some(le16(22)), Some(le32(24)), None)
      else if (isMp4) {
        val (br, mw, mh, md) = mp4Meta(p)
        ("mp4", br, mw, mh, None, None, md)
      }
      else ("raw", None, None, None, None, None, None)
    val hist = new Array[Long](16)
    var i = 0
    while (i < n) { hist(u(i) >> 4) += 1; i += 1 }
    MmFeature(docId, format, brand, width, height, channels, rate, durMs, n.toLong, hist)
  }

  val decodeBatchSize = 64

  /** Batched decode over partitions: the shape a vectorized native
    * decoder needs — fixed-size batches inside each partition, no
    * driver involvement, output is a typed Dataset. */
  def featureExtract(spark: SparkSession, dir: String,
                     docFilter: Column = lit(true)): Dataset[MmFeature] = {
    import spark.implicits._
    Tables(spark, dir, "documents").filter(docFilter)
      .select(col("doc_id"), taggedPayload.as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { iter =>
        iter.grouped(decodeBatchSize).flatMap { batch =>
          // a real decoder would process `batch` as one vectorized call
          batch.map { case (id, payload) => decodeMedia(id, payload) }
        }
      }
  }

  /** Gate-facing projection: the 16-bin histogram as scalar columns
    * (`hist_0..hist_15`) — array columns are not sortable by the
    * cross-engine comparator, scalars are. */
  def featureExtractDf(spark: SparkSession, dir: String,
                       docFilter: Column = lit(true)): DataFrame = {
    val base = featureExtract(spark, dir, docFilter).toDF()
    val histCols = (0 until 16).map(i => element_at(col("hist"), i + 1).as(s"hist_$i"))
    base.select(
      Seq(col("doc_id"), col("format"), col("brand"), col("width"), col("height"),
        col("channels"), col("sample_rate"), col("duration_ms"), col("byte_len"))
        ++ histCols: _*)
  }

  private def featureSqlFor(where: String): String = {
    val hist = (0 until 16)
      .map(i => s"CAST(len(list_filter(b, x -> x // 16 = $i)) AS BIGINT) AS hist_$i")
      .mkString(",\n ")
    mmPayloadCte(where) + ",\n" + mmJpegWalkCtes + ",\n" + mmMp4WalkCtes +
      "\nSELECT doc_id,\n" +
      mmSelect(deepWalk = true) + ",\n " + hist +
      "\nFROM d LEFT JOIN jdim USING (doc_id) LEFT JOIN mbrand USING (doc_id)" +
      "\n LEFT JOIN mms USING (doc_id) LEFT JOIN mdim USING (doc_id)"
  }

  /** [[gateSlice]] entry — identical walks, sliced population. */
  def featureExtractDfSlice(spark: SparkSession, dir: String): DataFrame =
    featureExtractDf(spark, dir, gateSlice)

  val featureSql: String = featureSqlFor("")

  /** [[gateSlice]] twin — identical walks, sliced population. */
  val featureSliceSql: String = featureSqlFor(gateSliceSqlWhere)

  /** Frame sampling over an opaque media payload — the video-pipeline
    * plumbing shape: treat the payload as fixed-size frames, keep every
    * `frameStride`-th frame, emit typed per-frame rows (index, offset,
    * digest). One `posexplode(sequence(...))` per document: rows scale
    * with frames kept, the payload is never copied per frame beyond the
    * projected slice, and everything stays in whole-stage codegen. A
    * real decoder replaces the substring slice with a codec call at the
    * same batch shape. */
  val frameBytes = 32
  val frameStride = 4

  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    val nFrames = floor((length(col("text")) + frameBytes - 1) / frameBytes)
    val kept = floor((nFrames + frameStride - 1) / frameStride).cast("int")
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), kept.as("n_kept"))
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(0), col("n_kept") - 1)).as(Seq("frame_idx", "k")))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        (col("k").cast("long") * frameStride * frameBytes).as("byte_offset"),
        md5(substring(col("text"),
          (col("k").cast("long") * frameStride * frameBytes + 1).cast("int"), lit(frameBytes))
          .cast("binary")).as("frame_digest"))
  }

  /** Media-time sampling interval for [[mp4TimeSample]] (ms). */
  val timeSampleIntervalMs = 2000L

  /** TIME-based sampling over video payloads — the sampler a real
    * video pipeline runs ("a frame every N seconds of media time"),
    * where [[frameSample]] is its byte-stride cousin: media time
    * comes from the container ([[mp4Meta]]'s mvhd duration), not from
    * payload size, so a long low-bitrate clip yields more samples
    * than a short high-bitrate one of equal bytes. For each full-tree
    * MP4 payload, emit one row per sample instant t = 0, N, 2N …
    * ≤ duration, mapping each instant to its frame ordinal and byte
    * offset by exact integer arithmetic. The TIME→FRAME mapping is
    * the REAL demuxer mapping when the payload carries a sample
    * table: instant → media units through the mdhd timescale
    * (t_media = ⌊t_ms · mdhd_ts / 1000⌋), then the stts
    * (sample_count, sample_delta) run-length walk picks the sample
    * whose duration interval contains t_media ([[sttsFrameAt]] —
    * variable frame durations honored exactly; instants past the
    * table clamp to the last sample). Payloads WITHOUT a walkable
    * stts/mdhd (or a malformed one — zero deltas, oversized entry
    * count) degrade to the constant-frame-rate model (frame =
    * ⌊t·n_frames / duration⌋ over byte-derived frames) — both paths
    * hash-gated by their own gate-payload population. The FRAME→BYTE
    * mapping is likewise REAL when the payload carries the byte
    * layout: stsz sample sizes (fixed-size or per-sample table) +
    * stsc sample→chunk runs + stco chunk file offsets give
    * `offset = stco[chunk] + sizes of the prior samples in the
    * chunk` ([[ChunkLayout.offsetOf]]); absent/malformed tables, or
    * frames beyond the declared chunks, fall back to the
    * fixed-stride model. Since round 13 BOTH stsz forms are in the
    * gate payload space (ids ≡ 6 mod 64 fixed-size, ≡ 38 mod 64
    * per-sample — the mvhd-v1 promotion precedent applied), each
    * mirrored by its own twin CTE branch (mfixed / mvsz prefix-sum)
    * and population-asserted in the spec. Payloads without
    * a walked duration (bare-ftyp, non-video containers, raw)
    * contribute no rows — absence is the dispatch signal. One
    * mapPartitions pass, ZERO shuffles; deterministic integers →
    * full DuckDB hash gate against the recursive-CTE box-walk twin +
    * generate_series. */
  def mp4TimeSample(spark: SparkSession, dir: String,
                    intervalMs: Long = timeSampleIntervalMs,
                    docFilter: Column = lit(true)): DataFrame = {
    import spark.implicits._
    require(intervalMs > 0, "intervalMs must be positive")
    Tables(spark, dir, "documents").filter(docFilter)
      .select(col("doc_id"), taggedPayload.as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { iter =>
        iter.grouped(decodeBatchSize).flatMap { batch =>
          batch.iterator.flatMap { case (id, p) =>
            mp4SampleSchedule(id, p, intervalMs).map { s =>
              (id, s.sampleIdx, s.tMs, s.frameIdx, s.byteOff)
            }
          }
        }
      }
      .toDF("doc_id", "sample_idx", "t_ms", "frame_idx", "byte_offset")
  }

  /** One demuxed sample instant of [[mp4SampleSchedule]]. */
  private[operators] case class Mp4Sample(
      sampleIdx: Long, tMs: Long, frameIdx: Long, byteOff: Long)

  /** The per-payload instant→frame→byte sampler SHARED by
    * [[mp4TimeSample]] and [[videoPhashSigs]] — one definition, so
    * the video signature schedule IS the demuxer schedule the
    * time-sampler hash-gates, by construction rather than by kept-in-
    * sync copies: duration dispatch (only full-tree MP4s with a
    * walked positive duration emit rows), instant → frame through
    * the stts/mdhd media-time walk ([[sttsFrameAt]]) with the
    * constant-frame-rate degrade, frame → byte through the
    * stsz/stsc/stco chunk layout ([[ChunkLayout.offsetOf]]) with the
    * fixed-stride degrade. */
  private[operators] def mp4SampleSchedule(id: Long, p: Array[Byte],
      intervalMs: Long): Iterator[Mp4Sample] = {
    val f = decodeMedia(id, p)
    f.duration_ms match {
      case Some(dur) if f.format == "mp4" && dur > 0 =>
        val wk = mp4WalkAll(p)
        val vfr = wk.stts.filter(_ => wk.mdhdTs > 0)
        val nFrames = math.max(1L, (f.byte_len + frameBytes - 1) / frameBytes)
        (0L to dur / intervalMs).iterator.map { i =>
          val tMs = i * intervalMs
          val frameIdx = vfr match {
            case Some(es) => sttsFrameAt(tMs * wk.mdhdTs / 1000L, es)
            case None => math.min(nFrames - 1, tMs * nFrames / dur)
          }
          // FRAME→BYTE through the real chunk layout when the
          // payload carries one (stsz sizes + stsc runs + stco
          // chunk offsets); fixed-stride degrade otherwise, or
          // for frames beyond the declared chunks' capacity
          val byteOff = wk.layout.flatMap(_.offsetOf(frameIdx))
            .getOrElse(frameIdx * frameBytes)
          Mp4Sample(i, tMs, frameIdx, byteOff)
        }
      case _ => Iterator.empty
    }
  }

  /** The instant→frame→byte sample chain (vids … fr2) shared by the
    * [[mp4TimeSample]] twin and the [[videoPhash]] twin — both walk
    * the identical demux arithmetic; only what they do with the
    * (doc_id, i, fidx, real_off) rows differs. */
  private val mmSampleChainCtes: String = s"""vids AS (
      | SELECT d.doc_id, m.mdur_ms,
      |  greatest(1, (d.n + $frameBytes - 1) // $frameBytes) AS nf
      | FROM d JOIN mms m USING (doc_id)
      | WHERE d.is_mp4 AND m.mdur_ms IS NOT NULL AND m.mdur_ms > 0),
      |smp AS (
      | SELECT doc_id, mdur_ms, nf,
      |  unnest(generate_series(0, CAST(mdur_ms // $timeSampleIntervalMs AS BIGINT))) AS i
      | FROM vids),
      |vfr AS (
      | SELECT e.doc_id, t.mts, e.eidx, e.cnt, e.dlt,
      |  coalesce(sum(e.cnt) OVER (PARTITION BY e.doc_id ORDER BY e.eidx
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumc,
      |  coalesce(sum(e.cnt * e.dlt) OVER (PARTITION BY e.doc_id ORDER BY e.eidx
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumd
      | FROM sttse e
      |  JOIN sttsok USING (doc_id)
      |  JOIN mmts t USING (doc_id)
      | WHERE t.mts > 0),
      |vtot AS (
      | SELECT doc_id, max(mts) AS mts, sum(cnt) AS totc, sum(cnt * dlt) AS totd
      | FROM vfr GROUP BY doc_id),
      |sv AS (
      | SELECT smp.doc_id, smp.i, smp.mdur_ms, smp.nf, v.mts, v.totc, v.totd,
      |  CASE WHEN v.doc_id IS NOT NULL
      |   THEN (smp.i * $timeSampleIntervalMs * v.mts) // 1000 END AS tmed
      | FROM smp LEFT JOIN vtot v USING (doc_id)),
      |fr AS (
      | SELECT sv.doc_id, sv.i,
      |  CASE
      |   WHEN sv.mts IS NULL
      |    THEN least(sv.nf - 1, (sv.i * $timeSampleIntervalMs) * sv.nf // sv.mdur_ms)
      |   WHEN sv.tmed >= sv.totd THEN greatest(sv.totc - 1, 0)
      |   ELSE (SELECT f.cumc + (sv.tmed - f.cumd) // f.dlt FROM vfr f
      |         WHERE f.doc_id = sv.doc_id
      |          AND sv.tmed >= f.cumd AND sv.tmed < f.cumd + f.cnt * f.dlt)
      |  END AS fidx
      | FROM sv),
      |chk AS (
      | SELECT o.doc_id, o.j + 1 AS k, o.off, r.spc
      | FROM mcof o
      |  JOIN stscok USING (doc_id)
      |  JOIN szok USING (doc_id)
      |  JOIN mrsc r ON r.doc_id = o.doc_id AND r.fc <= o.j + 1
      | QUALIFY row_number() OVER (PARTITION BY o.doc_id, o.j ORDER BY r.fc DESC) = 1),
      |chk2 AS (
      | SELECT doc_id, k, off, spc,
      |  coalesce(sum(spc) OVER (PARTITION BY doc_id ORDER BY k
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS fs
      | FROM chk),
      |fr2 AS MATERIALIZED (
      | SELECT fr.doc_id, fr.i, fr.fidx,
      |  CASE
      |   WHEN fx.doc_id IS NOT NULL THEN c.off + (fr.fidx - c.fs) * fx.fixed
      |   WHEN c.doc_id IS NOT NULL AND fr.fidx <= mv.cnt THEN c.off + coalesce(
      |    (SELECT sum(z.sz) FROM mvsz z
      |     WHERE z.doc_id = fr.doc_id AND z.j >= c.fs AND z.j < fr.fidx), 0)
      |  END AS real_off
      | FROM fr
      |  LEFT JOIN mfixed fx USING (doc_id)
      |  LEFT JOIN mvar mv USING (doc_id)
      |  LEFT JOIN chk2 c ON c.doc_id = fr.doc_id
      |   AND fr.fidx >= c.fs AND fr.fidx < c.fs + c.spc)""".stripMargin

  private def mp4TimeSampleSqlFor(where: String): String =
    mmPayloadCte(where) + ",\n" + mmMp4WalkCtes + ",\n" + mmSttsCtes + ",\n" +
      mmSampleChainCtes + s"""
      |SELECT doc_id,
      | CAST(i AS BIGINT) AS sample_idx,
      | CAST(i * $timeSampleIntervalMs AS BIGINT) AS t_ms,
      | CAST(fidx AS BIGINT) AS frame_idx,
      | CAST(coalesce(real_off, fidx * $frameBytes) AS BIGINT) AS byte_offset
      |FROM fr2""".stripMargin

  /** [[gateSlice]] entry — identical demux walk, sliced population. */
  def mp4TimeSampleSlice(spark: SparkSession, dir: String): DataFrame =
    mp4TimeSample(spark, dir, timeSampleIntervalMs, gateSlice)

  val mp4TimeSampleSql: String = mp4TimeSampleSqlFor("")

  /** [[gateSlice]] twin — identical demux walk, sliced population. */
  val mp4TimeSampleSliceSql: String = mp4TimeSampleSqlFor(gateSliceSqlWhere)

  val frameSampleSql: String =
    s"""WITH t AS (
       | SELECT doc_id, text,
       |  CAST(floor((length(text) + $frameBytes - 1) / $frameBytes) AS BIGINT) AS n_frames
       | FROM documents),
       |k AS (
       | SELECT doc_id, text,
       |  CAST(floor((n_frames + $frameStride - 1) / $frameStride) AS BIGINT) AS n_kept
       | FROM t WHERE n_frames > 0),
       |f AS (
       | SELECT doc_id, text,
       |  unnest(generate_series(0, CAST(n_kept - 1 AS BIGINT))) AS i
       | FROM k)
       |SELECT doc_id,
       | CAST(i AS BIGINT) AS frame_idx,
       | CAST(i * $frameStride * $frameBytes AS BIGINT) AS byte_offset,
       | md5(substring(text, CAST(i * $frameStride * $frameBytes + 1 AS INT), $frameBytes)) AS frame_digest
       |FROM f""".stripMargin

  // ---- image-content near-dup (perceptual signature) -------------------

  /** Max differing signature bits for an image near-dup pair. 6 with
    * the 8×8-bit band join below makes candidate recall EXACT by
    * pigeonhole (≤ 7 differing bits leave ≥ 1 of 8 bands equal) —
    * the [[DedupOps.simhashMaxHamming]] geometry, so the banded plan
    * provably emits the same pair set an all-pairs Hamming join
    * would, and the DuckDB oracle can verify with the naive join. */
  val phashMaxHamming = 6

  /** Planted perceptual near-dup pairs: doc_ids ≡ 18 and ≡ 58
    * (mod 80) — both tag-2/BMP residues — swap their text pixels for
    * a shared synthetic 256-byte gradient keyed by ⌊id/80⌋, the
    * ≡ 58 twin with ONE sampled byte perturbed (position 128 =
    * sample 36 exactly, flipping at most the one dHash bit that
    * compares samples 36/37) — so every group yields a deterministic
    * Hamming ≤ 1 pair while the groups stay mutually far. The
    * synthetic corpus has no natural pixel near-dups ([[DedupOps]]'s
    * planted-tail idiom, [[graft.operators.TextOps.docPiiScrub]]'s
    * rationale). */
  private def phashPlanted(id: Column): Column =
    pmod(id, lit(80L)) === 18 || pmod(id, lit(80L)) === 58

  /** GIF-container planted pairs — the same recipe in the second
    * signed format: ids ≡ 17 and ≡ 57 (mod 80), both tag-1 residues.
    * The pattern salt ([[gifPatternSalt]]) keeps a group's GIF plant
    * pixel-disjoint from its BMP plant — an unsalted base would give
    * ids 80g+17 and 80g+18 identical pixels and pair the two formats
    * at hamming 0. */
  private def phashPlantedGif(id: Column): Column =
    pmod(id, lit(80L)) === 17 || pmod(id, lit(80L)) === 57

  private val gifPatternSalt = 101L

  private def phashPatternHex(id: Column, perturbResidue: Long = 58L,
                              salt: Long = 0L): Column = {
    val g = floor(id / 80).cast("long")
    array_join(transform(sequence(lit(0), lit(255)), j => {
      val base = pmod(j.cast("long") * 7L + g * 13L + salt, lit(251L))
      val b = when(pmod(id, lit(80L)) === perturbResidue && j === 128,
        pmod(base + 125L, lit(251L))).otherwise(base)
      lpad(hex(b), 2, "0")
    }), "")
  }

  /** The per-doc image signatures (doc_id, sig) — the map-side half
    * of [[imagePhash]], exposed for the RecallAudit band-geometry
    * seat and the streaming phash sink.
    *
    * Population: the raster tags (doc_id ≡ 2 mod 8 BMP and ≡ 1
    * mod 8 GIF — the two container classes whose payloads carry an
    * uncompressed post-header region the stubbed decoder can sample;
    * each signs at its own header offset) with a pixel region big
    * enough for the 72 grid samples. Both gates are on the CHEAP
    * scan columns (doc_id,
    * text length), for two reasons pinned by the round-13 advice:
    * (a) a filter on the constructed payload is pushed below its
    * projection and recomputes the whole header when-chain per row
    * (the mm_media_decode CaseWhen-CSE class), and (b) a
    * magic-byte test on the payload diverges from the DuckDB twin's
    * population on a raw-tag doc whose TEXT happens to start with
    * 'BM' — gating both engines on (doc_id % 8, length) makes the
    * two populations provably identical. Planted docs (gradient
    * pixels, always ≥ 72) are ≡ 18/58 mod 80 ⊂ the BMP class and
    * ≡ 17/57 mod 80 ⊂ the GIF class. */
  def imagePhashSigs(spark: SparkSession, dir: String): DataFrame =
    imagePhashSigsOf(Tables(spark, dir, "documents"))

  /** [[imagePhashSigs]] over an arbitrary (doc_id, text) frame — the
    * per-batch half the streaming ingestion sink runs
    * ([[graft.streaming.Pipelines.phashIndexSink]]). Identical
    * population gates and signature kernel, so stream-folded and
    * batch-computed signatures are bit-identical. */
  def imagePhashSigsOf(batch: DataFrame): DataFrame = {
    val id = col("doc_id")
    // both uncompressed-raster container classes sign: BMP (tag 2)
    // and GIF (tag 1) — the GIF stub's post-descriptor bytes stand in
    // for the decoded LZW raster the way BMP's pixel region does, so
    // the second format rides the same kernel at its own header
    // offset (real decoders swap in per-format at the same shape)
    val rasterTag = pmod(id, lit(8L)) === 2 || pmod(id, lit(8L)) === 1
    batch
      .filter(phashPlanted(id) || phashPlantedGif(id) ||
        (rasterTag &&
          length(col("text")) >= graft.functions.DHashKernel.minPixels))
      .select(col("doc_id"),
        when(phashPlanted(id),
          unhex(concat(
            bmpHeaderHex(lit(16L) + pmod(id, lit(1000L)),
              lit(16L) + pmod(id * 7, lit(1000L))),
            phashPatternHex(id))))
        .when(phashPlantedGif(id),
          unhex(concat(
            gifHeaderHex(lit(16L) + pmod(id, lit(1000L)),
              lit(16L) + pmod(id * 7, lit(1000L))),
            phashPatternHex(id, perturbResidue = 57L, salt = gifPatternSalt))))
          .otherwise(taggedPayload).as("bin"))
      .select(col("doc_id"),
        when(pmod(id, lit(8L)) === 2,
          graft.functions.DHashColumns.dhash64(col("bin"), bmpHeaderBytes))
          .otherwise(
            graft.functions.DHashColumns.dhash64(col("bin"), gifHeaderBytes))
          .as("sig"))
  }

  /** Image-content near-dup pairs over the decodable raster payloads
    * — the multimodal twin of [[DedupOps.simhash]]: a 64-bit sampled
    * difference hash ([[graft.functions.DHashKernel]]) per BMP
    * payload's pixel region, band-PAIR join for candidates
    * ([[DedupOps.hammingBandJoin]] — pigeonhole-exact at ≤ 6, 28
    * 16-bit keys so the join domain scales, see the helper's scaladoc
    * for the 2,048-key single-band ceiling it replaces), exact
    * Hamming verify at ≤ [[phashMaxHamming]]. The non-BMP containers
    * (compressed formats) need a real codec before a perceptual hash
    * means anything — that boundary is the library's declared decode
    * stub, so the operator's population is the raster tag. The
    * signature is pure integer sampling/compares → full DuckDB hash
    * gate (the one xxhash-free dedup signature in the suite).
    *
    * Plan shape: one codegen'd scan projection (dispatch + dhash64),
    * band-pair explode, one shuffle on (band, bkey), candidate
    * distinct — the dedup_simhash class; at 100 TB only signatures
    * shuffle, never payloads. */
  def imagePhash(spark: SparkSession, dir: String): DataFrame =
    phashPairs(imagePhashFamily, imagePhashSigs(spark, dir))

  /** DuckDB twin: identical pixels (planted gradient or text bytes),
    * identical integer sampling, the SAME 64-bit value assembled as
    * low-63-bit sum + two's-complement bit 63, then the naive
    * all-pairs Hamming join the banded plan provably equals. */
  val imagePhashSql: String = {
    // sample s of a length-pn pixel list px (1-based list indexing)
    def g(s: String) = s"px[1 + (($s) * pn) // 72]"
    val bit = s"CASE WHEN ${g("(k//8)*9 + k%8")} < ${g("(k//8)*9 + k%8 + 1")}" +
      " THEN CAST(1 AS BIGINT) << k ELSE CAST(0 AS BIGINT) END"
    s"""WITH base AS (
       | SELECT doc_id,
       |  CASE WHEN doc_id % 80 IN (18, 58) THEN
       |   list_transform(range(0, 256), j ->
       |    CASE WHEN doc_id % 80 = 58 AND j = 128
       |     THEN (j*7 + (doc_id//80)*13 + 125) % 251
       |     ELSE (j*7 + (doc_id//80)*13) % 251 END)
       |  WHEN doc_id % 80 IN (17, 57) THEN
       |   list_transform(range(0, 256), j ->
       |    CASE WHEN doc_id % 80 = 57 AND j = 128
       |     THEN (j*7 + (doc_id//80)*13 + $gifPatternSalt + 125) % 251
       |     ELSE (j*7 + (doc_id//80)*13 + $gifPatternSalt) % 251 END)
       |  ELSE list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT))
       |  END AS px
       | FROM documents WHERE doc_id % 8 IN (1, 2)),
       |sz AS (SELECT doc_id, px, len(px) AS pn FROM base WHERE len(px) >= 72),
       |ph AS (SELECT doc_id,
       |  CAST(list_sum(list_transform(range(0, 63), k -> $bit)) AS BIGINT)
       |  + CASE WHEN ${g("70")} < ${g("71")}
       |     THEN -9223372036854775807 - 1 ELSE 0 END AS sig
       | FROM sz)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       | CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= $phashMaxHamming""".stripMargin
  }

  // ---- perceptual-signature index (streaming ingestion state) ----------

  /** One perceptual-signature family — what the index, the ingestion
    * sink and the batch operator need to know about it:
    *  - `population`: the signed-population version marker (below);
    *  - `signer`: the per-batch signer over a (doc_id, text) frame,
    *    yielding (doc_id, slotKeys…, sig) rows;
    *  - `slotKeys`: keys a pair must share beyond the band key (the
    *    video frame `slot`; the [[DedupOps.hammingBandJoin]] extraKeys);
    *  - `pairs`: the step from verified (slotKeys…, doc_a, doc_b,
    *    hamming) candidates to the family's pair rows.
    *
    * SIGNED-POPULATION version markers (r17, the r16 advice): widening
    * a signer's population (the r16 GIF addition to
    * [[imagePhashSigsOf]]) silently invalidates any index built before
    * the widening — a completion-marker-only check would happily probe
    * an index that lacks every GIF member and miss pairs against
    * pre-indexed docs with no error. Each index build stamps a
    * `_POPULATION` marker naming the signer population + version it
    * was built under; every fold and probe checks the marker against
    * the family's CURRENT population and fails with a rebuild message
    * on mismatch (including the missing-marker case: any index built
    * before r17 predates the GIF widening's gate, and a cross-family
    * probe fails the same way). Bump the version string whenever a
    * signer's population or kernel changes shape. */
  final case class PhashFamily(population: String,
                               signer: DataFrame => DataFrame,
                               slotKeys: Seq[String],
                               pairs: DataFrame => DataFrame)

  /** Image and audio pairs: one row per (doc_a, doc_b), hamming long. */
  private def hammingPairs(candidates: DataFrame): DataFrame =
    candidates.select(col("doc_a"), col("doc_b"),
      col("hamming").cast("long").as("hamming"))

  /** Video pairs: frame pairs (one per shared slot) aggregated per
    * video pair, kept when ≥ [[videoMinSharedFrames]] instants match. */
  private def videoPairs(framePairs: DataFrame): DataFrame =
    framePairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("long").as("frames_matched"),
        min(col("hamming")).cast("long").as("min_hamming"))
      .filter(col("frames_matched") >= videoMinSharedFrames)

  val imagePhashFamily = PhashFamily("image:bmp+gif:v2", imagePhashSigsOf, Nil, hammingPairs)
  val audioPhashFamily = PhashFamily("audio:wav:v1", audioPhashSigsOf, Nil, hammingPairs)
  val videoPhashFamily = PhashFamily("video:mp4:v1", videoPhashSigsOf, Seq("slot"), videoPairs)

  /** A family's batch pairs over a signature frame: the shared band
    * join (slot-keyed for video), then the family's pair step. */
  private def phashPairs(family: PhashFamily, sigs: DataFrame): DataFrame =
    family.pairs(DedupOps.hammingBandJoin(sigs, phashMaxHamming,
      extraKeys = family.slotKeys))

  /** The band-pair inverted-index rows of a signature frame —
    * (slotKeys…, band, bkey, doc_id, sig): the signature rides along so
    * a probe verifies Hamming in the band join itself, no second sets
    * lookup, and a video's slot rides in the key so a probe only ever
    * meets same-instant frames ([[videoPhash]]'s join geometry). */
  private def phashBands(family: PhashFamily, sigs: DataFrame): DataFrame = {
    val sk = family.slotKeys.map(col)
    sigs.select(sk ++ Seq(col("doc_id"), col("sig"),
        explode(array(DedupOps.hammingBandPairKeys(col("sig")): _*)).as("bb")): _*)
      .select(sk ++ Seq(col("bb.band").as("band"), col("bb.bkey").as("bkey"),
        col("doc_id"), col("sig")): _*)
  }

  /** The kb-partitioned membership rows of a signature frame: one per
    * doc — image and audio frames already are, a video's per-slot rows
    * collapse through a distinct. */
  private def phashIds(family: PhashFamily, sigs: DataFrame): DataFrame = {
    val ids = sigs.select(col("doc_id"))
    (if (family.slotKeys.isEmpty) ids else ids.distinct())
      .select(col("doc_id"), DedupOps.keyBucket(col("doc_id")).as("kb"))
  }

  private def populationPath(idx: String) =
    new org.apache.hadoop.fs.Path(s"$idx/_POPULATION")

  private def writePopulationMarker(spark: SparkSession, idx: String,
                                    population: String): Unit = {
    val p = populationPath(idx)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(population.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readPopulationMarker(spark: SparkSession, idx: String): Option[String] = {
    val p = populationPath(idx)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](256) // marker ids are short by construction
        val n = in.read(buf)
        Some(new String(buf, 0, math.max(0, n),
          java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  private def requireSigIndex(spark: SparkSession, family: PhashFamily,
                              idx: String): Unit = {
    require(graft.operators.VectorOps.hExists(spark, s"$idx/bands/_SUCCESS"),
      s"$idx is not a complete signature index (crashed mid-rebuild? " +
        "re-run phashRebuildIndex)")
    val got = readPopulationMarker(spark, idx)
    require(got.contains(family.population),
      s"$idx was built under signer population ${got.getOrElse("<pre-marker>")} " +
        s"but the current signer is ${family.population} — its members are missing " +
        "from the index and probes would silently miss pairs; re-run phashRebuildIndex")
  }

  /** (Re)build a family's signature dedup index from its signature
    * frame — the state the streaming ingestion sink
    * ([[graft.streaming.Pipelines.phashIndexSink]]) maintains so NEW
    * payloads dedup against the corpus without recomputing corpus-wide
    * signatures:
    *  - `ids`: the [[DedupOps.keyBucket]]-partitioned membership
    *    table, one row per doc (kb-pruned already-indexed checks, the
    *    minhash-index layout — checked through [[DedupOps.unindexed]]);
    *  - `_POPULATION`: the family's population marker;
    *  - `bands`: the band-pair inverted index, `bands/_SUCCESS` the
    *    build-complete marker.
    * Both stores stage invisibly while the old index keeps serving,
    * then [[Snapshot.swap]] publishes them with `bands` as the marker
    * table and `_POPULATION` written inside the window (the
    * [[DedupOps.rebuildIndex]] isolation: a probe built before the
    * swap finishes on the old generation, a crash mid-swap fails the
    * completion check). Single-writer contract per index dir (the
    * minhash rule). Unlike the minhash index there is NO
    * frozen-universe drift: the
    * signature kernels are corpus-independent, so incremental folds
    * never degrade and a rebuild is only ever a compaction concern. */
  def phashRebuildIndex(spark: SparkSession, family: PhashFamily, sigs: DataFrame,
                        idx: String): Unit = {
    val s = sigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = s.count()
      val rIds = Snapshot.stageReplace(spark, s"$idx/ids",
        phashIds(family, s).coalesce(graft.operators.VectorOps.appendParts(n)),
        partitionCols = Seq("kb"))
      val rBands = Snapshot.stageReplace(spark, s"$idx/bands",
        phashBands(family, s).coalesce(graft.operators.VectorOps.appendParts(n * 28)))
      // population marker BEFORE bands commit: `bands/_SUCCESS` stays
      // the one completion marker — a crash here leaves an index that
      // fails the completion check, never a marker-less complete index
      Snapshot.swap(Seq(rIds, rBands), writePopulationMarker(spark, idx, family.population))
    } finally s.unpersist()
  }

  /** Build a family's index over a directory's decodable payloads. The
    * video signer demuxes every payload, so its scan fans out as
    * [[videoPhashSigs]]' does. */
  def phashIndexBuild(spark: SparkSession, family: PhashFamily, dir: String, idx: String,
                      docFilter: Column = lit(true)): Unit = {
    val docs =
      if (family.slotKeys.isEmpty) Tables(spark, dir, "documents")
      else Tables.fanned(spark, dir, "documents")
    phashRebuildIndex(spark, family, family.signer(docs.filter(docFilter)), idx)
  }

  /** Fold a batch of signatures INTO the index. Crash-safe ordering:
    * the `ids` membership record lands LAST, after the band rows — a
    * crash mid-update leaves band rows without membership, so the
    * replay re-folds (duplicate band rows are tolerated: the probe's
    * pair set is `distinct()`); the reverse order would be a silent
    * recall hole. Caller owns the one-copy-per-doc_id contract across
    * calls (the sink folds only [[DedupOps.unindexed]] rows), and
    * `batchSigs` must not be a plan that reads this index's paths
    * (localCheckpoint first, as the sink does). */
  def phashIndexUpdate(spark: SparkSession, family: PhashFamily, batchSigs: DataFrame,
                       idx: String): Unit = {
    requireSigIndex(spark, family, idx)
    val s = batchSigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = s.count()
      Snapshot.append(phashBands(family, s).coalesce(VectorOps.appendParts(n * 28)), s"$idx/bands")
      Snapshot.append(phashIds(family, s).coalesce(VectorOps.appendParts(n)), s"$idx/ids", "kb")
    } finally s.unpersist()
  }

  /** Probe a batch of signatures against the index: the batch's
    * (slot-keyed) band-pair keys meet the inverted index in one
    * equi-join, exact Hamming verify at ≤ [[phashMaxHamming]] happens
    * IN the join row (both signatures present), candidates normalized
    * to doc_a < doc_b and de-duplicated — so replay-duplicated index
    * rows and both-in-batch double hits collapse — then the family's
    * pair step. Output matches the batch operator's ([[imagePhash]],
    * [[audioPhash]], [[videoPhash]]) exactly: update-before-probe over
    * the whole corpus reproduces its pair set (spec-pinned). A video's
    * slots all travel with its payload, so a pair's frames_matched is
    * complete in whichever trigger sees the pair's second member —
    * pairs never need cross-trigger re-aggregation. */
  def phashProbeIndex(spark: SparkSession, family: PhashFamily, batchSigs: DataFrame,
                      idx: String): DataFrame = {
    requireSigIndex(spark, family, idx)
    val keys = family.slotKeys ++ Seq("band", "bkey")
    val bands = Snapshot.read(spark, s"$idx/bands")
    family.pairs(phashBands(family, batchSigs)
      .join(bands.select(keys.map(col) ++ Seq(col("doc_id").as("old_id"),
        col("sig").as("old_sig")): _*), keys)
      .filter(col("doc_id") =!= col("old_id"))
      .select(family.slotKeys.map(col) ++ Seq(
        least(col("doc_id"), col("old_id")).as("doc_a"),
        greatest(col("doc_id"), col("old_id")).as("doc_b"),
        bit_count(col("sig").bitwiseXOR(col("old_sig"))).as("hamming")): _*)
      .filter(col("hamming") <= phashMaxHamming)
      .distinct())
  }

  // ---- video-content near-dup (frame-sampled perceptual signature) -----

  /** Sampling cadence for video signatures — the [[mp4TimeSample]]
    * interval (one frame per 2 s of media time), so the signature
    * schedule IS the demuxer schedule the time-sampler gates. */
  val videoSampleIntervalMs: Long = timeSampleIntervalMs

  /** Minimum hamming-close shared frame slots for a video pair: one
    * coinciding frame is a still-image coincidence; two instants of
    * matching content is the video-level signal. */
  val videoMinSharedFrames = 2

  /** Frame region bytes — exactly [[graft.functions.DHashKernel.minPixels]]
    * (72), so the kernel's 72-point grid over the region reads 72
    * CONSECUTIVE bytes (grid sample s = region byte s): the simplest
    * geometry the DuckDB twin can index directly. A real decoder
    * replaces the region slice with the decoded frame raster at the
    * same signature shape (the [[imagePhash]] stub boundary). */
  val videoFrameRegionBytes: Int = graft.functions.DHashKernel.minPixels

  /** Planted perceptual near-dup VIDEOS — the [[phashPlanted]] recipe
    * lifted to the demuxed class: ids ≡ 70 and ≡ 198 (mod 320), both
    * ≡ 6 (mod 64) = the VFR fixed-size-stsz mp4 population. Both
    * members build their payload from the GROUP-shared surrogate id
    * 320·⌊id/320⌋ + 70 (identical duration/timescale/sample tables →
    * identical sample schedule — id-derived headers would misalign
    * every slot) over a group-keyed 512-byte synthetic body; the
    * ≡ 198 member perturbs ONE body byte (j = 300), flipping ≤ 2
    * compare bits in any frame region covering it — so every planted
    * group pairs with hamming ≤ 2 on every shared slot. Every group
    * has ≥ 2 sample instants: dur_ms ≥ 2000 ⇔ sid % 300 ≥ 1, and
    * 320g + 70 ≡ 0 (mod 300) has no solution (gcd(320,300) = 20 does
    * not divide 230). */
  private def videoPlanted(id: Column): Column =
    pmod(id, lit(320L)) === 70 || pmod(id, lit(320L)) === 198

  private def videoSurrogate(id: Column): Column =
    floor(id / 320).cast("long") * 320L + 70L

  private val videoPlantBodyBytes = 512

  private def videoBodyHex(id: Column): Column = {
    val g = floor(id / 320).cast("long")
    array_join(transform(sequence(lit(0), lit(videoPlantBodyBytes - 1)), j => {
      val base = pmod(j.cast("long") * 7L + g * 13L, lit(251L))
      val b = when(pmod(id, lit(320L)) === 198 && j === 300,
        pmod(base + 125L, lit(251L))).otherwise(base)
      lpad(hex(b), 2, "0")
    }), "")
  }

  /** The payload the video dedup signs: [[taggedPayload]], except
    * planted docs swap in the surrogate-id header + synthetic body
    * (the substitution lives HERE, not in the shared payload — every
    * other multimodal entry sees the real corpus payload). */
  private def videoPayload: Column =
    when(videoPlanted(col("doc_id")),
      concat(unhex(taggedPayloadHexFor(videoSurrogate(col("doc_id")))),
        unhex(videoBodyHex(col("doc_id")))))
      .otherwise(taggedPayload)

  /** Per-(video, sample instant) frame signatures (doc_id, slot, sig)
    * — the map-side half of [[videoPhash]]: ONE partition pass runs
    * the [[mp4TimeSample]] demux (mvhd duration → instants, stts
    * media-time mapping, stsz/stsc/stco chunk layout → byte offset)
    * and signs the 72-byte region at each demuxed offset (wrapped
    * into the payload extent — `off % (len − 71)` — so the stubbed
    * sampler always reads a full region; a real decoder reads the
    * actual frame there) with [[graft.functions.DHashKernel]].
    * Population is the video-tagged class (doc_id ≡ 6 mod 8, a cheap
    * scan-column gate — the round-13 rule: never filter on the
    * constructed payload); within it the demux dispatches (only
    * full-tree MP4s carry a walkable duration — bare-ftyp and
    * non-mp4 classes contribute no rows, absence is the signal).
    * Zero shuffles; payloads never leave the scan stage. */
  def videoPhashSigs(spark: SparkSession, dir: String,
                     docFilter: Column = lit(true)): DataFrame =
    videoPhashSigsOf(Tables.fanned(spark, dir, "documents").filter(docFilter))

  /** [[videoPhashSigs]] over an arbitrary (doc_id, text) frame — the
    * per-batch half the streaming ingestion sink runs
    * ([[graft.streaming.Pipelines.phashIndexSink]]), the
    * [[imagePhashSigsOf]] contract at the video granularity:
    * identical population gate, demux schedule
    * ([[mp4SampleSchedule]] — the one shared sampler), and signature
    * kernel, so stream-folded and batch-computed (doc_id, slot, sig)
    * rows are bit-identical. */
  def videoPhashSigsOf(batch: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val regionB = videoFrameRegionBytes
    batch
      .filter(pmod(col("doc_id"), lit(8L)) === 6)
      .select(col("doc_id"), videoPayload.as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { iter =>
        iter.grouped(decodeBatchSize).flatMap { group =>
          group.iterator.flatMap { case (id, p) =>
            if (p.length < regionB) Iterator.empty
            else mp4SampleSchedule(id, p, videoSampleIntervalMs).map { s =>
              val rs = (s.byteOff % (p.length - regionB + 1)).toInt
              (id, s.sampleIdx, graft.functions.DHashKernel.hash(
                java.util.Arrays.copyOfRange(p, rs, rs + regionB), 0))
            }
          }
        }
      }
      .toDF("doc_id", "slot", "sig")
  }

  /** Pair videos from a (doc_id, slot, sig) frame — exposed so the
    * geometry spec can drive constructed signatures through the
    * exact production join+aggregate. */
  def videoPhashFromSigs(sigs: DataFrame): DataFrame =
    phashPairs(videoPhashFamily, sigs)

  /** VIDEO-content near-dup pairs — the image→video rung of the
    * perceptual dedup ladder, composed entirely from hash-gated
    * parts: the [[mp4TimeSample]] demux picks the instants, the
    * [[imagePhash]] kernel signs each sampled frame region, and the
    * shared [[DedupOps.hammingBandJoin]] (slot-keyed) pairs frames,
    * with a pair emitted when ≥ [[videoMinSharedFrames]] instants
    * match at hamming ≤ [[phashMaxHamming]]. Candidate recall per
    * slot is pigeonhole-exact (≤ 6 dirty bits leave ≥ 2 clean
    * bands), so the plan provably equals the per-slot all-pairs
    * Hamming join the DuckDB twin runs. Integer-only demux + sampling
    * + compares → FULL cross-engine hash gate.
    *
    * Plan shape: scan+demux projection (zero shuffle), slot-keyed
    * band-pair join (1 shuffle, 20-byte sig rows only), pair
    * aggregate (1 shuffle, pair-bounded). At 100 TB: payloads never
    * shuffle; per-(slot, band, bkey) bucket populations divide the
    * corpus by slots × ~1.8M keys, and the ≥ k-frames filter runs
    * AFTER the exact hamming verify, so false band collisions cost
    * one integer xor each. */
  def videoPhash(spark: SparkSession, dir: String,
                 docFilter: Column = lit(true)): DataFrame =
    videoPhashFromSigs(videoPhashSigs(spark, dir, docFilter))

  /** [[gateSlice]] entry — identical demux/sign/join, sliced
    * population (the big-SF gate form: the twin's per-slot all-pairs
    * join is the O(n²)-class cost the slice divides by 361). */
  def videoPhashSlice(spark: SparkSession, dir: String): DataFrame =
    videoPhash(spark, dir, gateSlice)

  /** DuckDB twin: the SAME payload CTE chain as [[mp4TimeSample]]'s
    * twin but sourced with the planted substitution (surrogate pid +
    * synthetic body — [[videoPlanted]]), the same walk + sample-chain
    * CTEs, then the 72-byte-region signature assembled exactly like
    * [[imagePhashSql]] (low-63 sum + two's-complement bit 63, direct
    * byte indexing since region = grid) and the naive per-slot
    * Hamming join + ≥ k aggregate the banded plan provably equals. */
  private def videoPhashSqlFor(slice: Boolean): String = {
    val andSlice =
      if (slice) s" AND doc_id % $gateSliceModulus = $gateSliceResidue" else ""
    val src =
      s"""SELECT doc_id,
         |  CASE WHEN doc_id % 320 IN (70, 198)
         |   THEN (doc_id // 320) * 320 + 70 ELSE doc_id END AS pid,
         |  CASE WHEN doc_id % 320 IN (70, 198)
         |   THEN list_transform(range(0, $videoPlantBodyBytes), j ->
         |    CASE WHEN doc_id % 320 = 198 AND j = 300
         |     THEN (j*7 + (doc_id//320)*13 + 125) % 251
         |     ELSE (j*7 + (doc_id//320)*13) % 251 END)
         |  ELSE list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT))
         |  END AS tb
         | FROM documents WHERE doc_id % 8 = 6$andSlice""".stripMargin
    mmPayloadCte(src = src) + ",\n" + mmMp4WalkCtes + ",\n" + mmSttsCtes + ",\n" +
      mmSampleChainCtes + s""",
      |sg AS (
      | SELECT f.doc_id, f.i,
      |  CAST(coalesce(f.real_off, f.fidx * $frameBytes)
      |   % (d.n - ${videoFrameRegionBytes - 1}) AS BIGINT) AS rs, d.b
      | FROM fr2 f JOIN d USING (doc_id) WHERE d.n >= $videoFrameRegionBytes),
      |vph AS MATERIALIZED (
      | SELECT doc_id, i,
      |  CAST(list_sum(list_transform(range(0, 63), k ->
      |   CASE WHEN b[rs + (k//8)*9 + k%8 + 1] < b[rs + (k//8)*9 + k%8 + 2]
      |    THEN CAST(1 AS BIGINT) << k ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
      |  + CASE WHEN b[rs + 71] < b[rs + 72]
      |     THEN -9223372036854775807 - 1 ELSE 0 END AS sig
      | FROM sg),
      |vpr AS (
      | SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
      |  bit_count(xor(a.sig, b2.sig)) AS hm
      | FROM vph a JOIN vph b2 ON a.i = b2.i AND a.doc_id < b2.doc_id
      | WHERE bit_count(xor(a.sig, b2.sig)) <= $phashMaxHamming)
      |SELECT doc_a, doc_b,
      | CAST(count(*) AS BIGINT) AS frames_matched,
      | CAST(min(hm) AS BIGINT) AS min_hamming
      |FROM vpr GROUP BY doc_a, doc_b
      |HAVING count(*) >= $videoMinSharedFrames""".stripMargin
  }

  val videoPhashSql: String = videoPhashSqlFor(slice = false)
  val videoPhashSliceSql: String = videoPhashSqlFor(slice = true)

  // ---- audio-content near-dup (windowed energy-contour signature) -------

  /** Planted perceptual near-dup AUDIO pairs — the [[phashPlanted]]
    * recipe in the WAV class: ids ≡ 19 and ≡ 59 (mod 80), both tag-3
    * residues. Both members carry a group-keyed 512-byte synthetic
    * PCM body behind their own id-derived RIFF header (the header is
    * not signed, so members need no surrogate id — unlike the video
    * plants, whose sample SCHEDULE derives from the header); the
    * ≡ 59 member perturbs ONE body byte (j = 300, window 38 of 65),
    * flipping at most the two contour bits that compare that window —
    * every planted group pairs at hamming ≤ 2. */
  private def audioPlanted(id: Column): Column =
    pmod(id, lit(80L)) === 19 || pmod(id, lit(80L)) === 59

  private val audioPlantBodyBytes = 512

  private def audioBodyHex(id: Column): Column = {
    val g = floor(id / 80).cast("long")
    array_join(transform(sequence(lit(0), lit(audioPlantBodyBytes - 1)), j => {
      val base = pmod(j.cast("long") * 7L + g * 13L, lit(251L))
      val b = when(pmod(id, lit(80L)) === 59 && j === 300,
        pmod(base + 125L, lit(251L))).otherwise(base)
      lpad(hex(b), 2, "0")
    }), "")
  }

  /** The per-doc audio signatures (doc_id, sig) — the map-side half
    * of [[audioPhash]].
    *
    * Population: the WAV tag (doc_id ≡ 3 mod 8) with a PCM data
    * region big enough for the 65 energy windows — both gates on the
    * CHEAP scan columns (doc_id, text length), the [[imagePhashSigsOf]]
    * rationale. The data region starts at the fixed
    * [[audioHeaderBytes]] offset (the synthetic RIFF header is
    * fixed-length; a real RIFF reader walks to the `data` chunk and
    * hands the kernel the same region — the library's declared decode
    * stub boundary, [[graft.functions.AudioPhashKernel]]). */
  def audioPhashSigs(spark: SparkSession, dir: String): DataFrame =
    audioPhashSigsOf(Tables(spark, dir, "documents"))

  /** [[audioPhashSigs]] over an arbitrary (doc_id, text) frame — the
    * per-batch form, streaming-sink-ready like [[imagePhashSigsOf]]. */
  def audioPhashSigsOf(batch: DataFrame): DataFrame = {
    val id = col("doc_id")
    batch
      .filter(pmod(id, lit(8L)) === 3 &&
        (audioPlanted(id) ||
          length(col("text")) >= graft.functions.AudioPhashKernel.minSamples))
      .select(col("doc_id"),
        when(audioPlanted(id),
          unhex(concat(wavHeaderHexFor(id), audioBodyHex(id))))
          .otherwise(taggedPayload).as("bin"))
      .select(col("doc_id"),
        graft.functions.AudioPhashColumns
          .audiophash64(col("bin"), audioHeaderBytes).as("sig"))
  }

  /** AUDIO-content near-dup pairs — the text/image/video/audio rung
    * that completes the perceptual dedup ladder: a 64-bit windowed
    * energy-contour signature ([[graft.functions.AudioPhashKernel]] —
    * the chromaprint shape over the stubbed PCM region, rate-invariant
    * by construction) per WAV payload, band-PAIR join for candidates
    * ([[DedupOps.hammingBandJoin]] — pigeonhole-exact at ≤ 6), exact
    * Hamming verify at ≤ [[phashMaxHamming]]. Integer-only windowed
    * sums and compares → FULL cross-engine hash gate (the
    * [[imagePhash]] gate class).
    *
    * Plan shape: one codegen'd scan projection (dispatch +
    * audiophash64), band-pair explode, one shuffle on (band, bkey),
    * candidate distinct — the dedup_simhash class; at 100 TB only
    * 16-byte signature rows shuffle, never PCM payloads. */
  def audioPhash(spark: SparkSession, dir: String): DataFrame =
    phashPairs(audioPhashFamily, audioPhashSigs(spark, dir))

  /** DuckDB twin: identical PCM bytes (planted body or text bytes),
    * identical 65-window integer energies ((b−128)², floor-divided
    * spans), the SAME 64-bit value assembled as low-63-bit sum +
    * two's-complement bit 63 ([[imagePhashSql]]'s recipe), then the
    * naive all-pairs Hamming join the banded plan provably equals. */
  val audioPhashSql: String = {
    val win = graft.functions.AudioPhashKernel.windows
    s"""WITH base AS (
       | SELECT doc_id,
       |  CASE WHEN doc_id % 80 IN (19, 59) THEN
       |   list_transform(range(0, $audioPlantBodyBytes), j ->
       |    CASE WHEN doc_id % 80 = 59 AND j = 300
       |     THEN (j*7 + (doc_id//80)*13 + 125) % 251
       |     ELSE (j*7 + (doc_id//80)*13) % 251 END)
       |  ELSE list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT))
       |  END AS b
       | FROM documents WHERE doc_id % 8 = 3),
       |sz AS (SELECT doc_id, b, len(b) AS n FROM base WHERE len(b) >= $win),
       |en AS (SELECT doc_id,
       |  list_transform(range(0, $win), w ->
       |   list_sum(list_transform(range((w*n)//$win, ((w+1)*n)//$win),
       |    j -> (b[j+1]-128)*(b[j+1]-128)))) AS e
       | FROM sz),
       |ap AS (SELECT doc_id,
       |  CAST(list_sum(list_transform(range(0, 63), k ->
       |   CASE WHEN e[k+1] < e[k+2] THEN CAST(1 AS BIGINT) << k
       |    ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
       |  + CASE WHEN e[${win - 1}] < e[$win]
       |     THEN -9223372036854775807 - 1 ELSE 0 END AS sig
       | FROM en)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       | CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |FROM ap a JOIN ap b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= $phashMaxHamming""".stripMargin
  }
}
