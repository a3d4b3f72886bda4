package graft

import java.time.{LocalDate, LocalTime}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions
import graft.operators._
import graft.sinks.ParquetSink
import graft.sources.TickerSource

/** Multimodal codec, web-ingest (WARC/HTML/URL) and graph surfaces.
  *
  * Part of the SparkEntry registry split — see [[SparkEntryBase]].
  */
private[graft] trait MediaGraphRegistry extends CurationIndexRegistry {
  /** Image perceptual hashing (x29): genuine uncompressed BMP payloads are
    * synthesized from a closed-form pixel formula
    * ([[graft.functions.BuildBmp]] — real files any BMP reader opens),
    * then REALLY pixel-decoded and 8×8 average-hashed by
    * [[graft.functions.ImageAHash]] — no codec library, pure byte
    * arithmetic, map-only. The oracle never sees the bytes: it recomputes
    * the hash from the same pixel FORMULA (two independent derivations,
    * one hash-matched answer — the encode→decode→hash round-trip is what's
    * being verified). The hash is emitted as two unsigned 32-bit halves so
    * neither engine touches the sign bit of a 64-bit value.
    */
  protected def x29(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    dts(s, dir)
      .where(col("doc_id") % 3 === 0)
      .select(
        col("doc_id"),
        GraftFunctions
          .imageAHash(
            GraftFunctions.buildBmp(
              col("doc_id"),
              (lit(16) + col("doc_id") % 16).cast("int"),
              (lit(16) + col("doc_id") % 12).cast("int")
            )
          )
          .as("ahash")
      )
      .select(
        col("doc_id"),
        shiftright(col("ahash"), 32).bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_hi"),
        col("ahash").bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_lo")
      )
      .orderBy(col("doc_id"))
  }

  /** Image near-dup pairs (x30): docs 4k and 4k+1 build their BMP from the
    * same base id (identical images, Hamming 0 — the planted duplicates),
    * all other bases differ; aHash signatures go through the SAME 4×16-bit
    * banded Hamming join as the simhash family
    * ([[Dedup.hammingPairs]] — pigeonhole-lossless at radius 3). The
    * oracle recomputes every hash from the pixel formula and mines pairs
    * with an equivalent band-blocked self-join — band partition choice
    * cancels out, since banding only GENERATES candidates and the emitted
    * pairs are exactly those at Hamming ≤ 3.
    */
  protected def x30(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val base = expr("CAST(doc_id DIV 2 AS BIGINT)")
    val sig = dts(s, dir)
      .where(col("doc_id") % 4 < 2)
      .select(
        col("doc_id"),
        GraftFunctions
          .imageAHash(
            GraftFunctions.buildBmp(
              base,
              (lit(16) + base % 16).cast("int"),
              (lit(16) + base % 12).cast("int")
            )
          )
          .as("sim")
      )
    Dedup
      .hammingPairs(sig, maxHamming = 3, idCol = "doc_id")
      .orderBy(col("a_id"), col("b_id"))
  }

  /** GIF aHash (x32): the same encode→decode→hash contract as x29 but
    * through a REAL LZW entropy decoder — [[graft.functions.BuildGif]]
    * writes a genuinely valid GIF89a (256-entry grayscale table,
    * uncompressed-LZW code stream with periodic clears), and
    * [[graft.functions.ImageAHash]]'s full LZW decoder (variable code
    * width, KwKwK, interlace) recovers the pixels. The oracle is the SAME
    * closed form as x29 — the pixel formula is shared — so a hash match
    * proves the LZW round-trip is byte-exact. Different doc subset than
    * x29 so the two queries cannot mask each other.
    */
  protected def x32(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    dts(s, dir)
      .where(col("doc_id") % 3 === 1)
      .select(
        col("doc_id"),
        GraftFunctions
          .imageAHash(
            GraftFunctions.buildGif(
              col("doc_id"),
              (lit(16) + col("doc_id") % 16).cast("int"),
              (lit(16) + col("doc_id") % 12).cast("int")
            )
          )
          .as("ahash")
      )
      .select(
        col("doc_id"),
        shiftright(col("ahash"), 32).bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_hi"),
        col("ahash").bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_lo")
      )
      .orderBy(col("doc_id"))
  }

  /** Audio PCM feature extraction (x33): genuine 16-bit PCM mono WAV
    * payloads are synthesized from a closed-form sample formula
    * ([[graft.functions.BuildWav]] — real files any WAV reader plays),
    * then REALLY sample-decoded and folded to raw integer statistics by
    * [[graft.functions.AudioPcmFeatures]] (Σs², Σ|s|, peak, sign-change
    * count, floor-ms duration) — the x29 encode→decode→verify contract
    * applied to audio. All-integer output per the round-3 lesson (doubles
    * in a contract invite cross-engine rendering divergence); RMS/mean
    * amplitude derive from sum_sq/sum_abs in Column space when needed.
    * The oracle recomputes every statistic from the sample FORMULA — the
    * bytes never leave Spark.
    */
  protected def x33(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    dts(s, dir)
      .where(col("doc_id") % 4 === 2)
      .select(
        col("doc_id"),
        GraftFunctions
          .audioPcmFeatures(
            GraftFunctions.buildWav(
              col("doc_id"),
              (lit(8000) + (col("doc_id") % 5) * 2000).cast("int"),
              (lit(400) + col("doc_id") % 377).cast("int")
            )
          )
          .as("f")
      )
      .select(
        col("doc_id"),
        col("f.n_samples").as("n_samples"),
        col("f.sample_rate").as("sample_rate"),
        col("f.sum_sq").as("sum_sq"),
        col("f.sum_abs").as("sum_abs"),
        col("f.peak").as("peak"),
        col("f.zero_cross").as("zero_cross"),
        col("f.duration_ms").as("duration_ms")
      )
      .orderBy(col("doc_id"))
  }

  /** GIF frame sampling (x34): multi-frame GIF89a payloads
    * ([[graft.functions.BuildAnimGif]] — real animations, frame f's
    * pixels = the shared closed form shifted by f·37) are decoded
    * frame-by-frame through the full LZW core into per-frame aHashes
    * ([[graft.functions.GifFrameHashes]]), then SAMPLED declaratively:
    * posexplode + `frame_idx % 2 = 0` — the "sample every k-th frame"
    * video-pipeline verb, with the decode map-only and the sampling
    * filter inside codegen. The oracle recomputes each sampled frame's
    * hash from (id, f, x, y) alone, so a match proves the multi-frame
    * walk (graphic-control extensions, per-frame sub-block chains, LZW
    * per frame) byte-exact.
    */
  protected def x34(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    // The multi-frame LZW decode is the most CPU-expensive media kernel in
    // the suite, and a single-file parquet scan hands it 1-2 tasks — round
    // 5 benched wall ≈ cpu on 32 cores. Project down to the scalar ids and
    // repartition to cluster parallelism BEFORE the build+decode chain
    // (same round-1 `Dedup.spread` lesson): a decode stage must never
    // inherit its parallelism from input file count. The explicit partition
    // count keeps AQE from re-coalescing the tiny id shuffle.
    t(s, dir, "documents")
      .where(col("doc_id") % 4 === 3)
      .select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        GraftFunctions
          .gifFrameHashes(
            GraftFunctions.buildAnimGif(
              col("doc_id"),
              (lit(16) + col("doc_id") % 13).cast("int"),
              (lit(16) + col("doc_id") % 9).cast("int"),
              (lit(3) + col("doc_id") % 4).cast("int")
            )
          )
          .as("fh")
      )
      .select(col("doc_id"), posexplode(col("fh")).as(Seq("frame_idx", "fhash")))
      .where(col("frame_idx") % 2 === 0)
      .select(
        col("doc_id"),
        col("frame_idx"),
        shiftright(col("fhash"), 32).bitwiseAND(lit(0xFFFFFFFFL)).as("fhash_hi"),
        col("fhash").bitwiseAND(lit(0xFFFFFFFFL)).as("fhash_lo")
      )
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Image resize (x35): real BMP payloads are nearest-neighbor-resized
    * by [[graft.functions.ResizeBmp]] (decode pixels → NN map
    * src=(x·w/w2, y·h/h2) floor → re-encode 24-bit BMP) and the RESIZED
    * file is then decoded and hashed by ImageAHash — two full
    * encode→decode round-trips chained through the resize. The oracle
    * composes the source-pixel formula with the same floor-division
    * mapping, so a hash match pins the resize geometry (row order, floor
    * semantics, padding) exactly. Dims vary per doc (8..14 × 8..12) to
    * sweep the NN mapping across ratios.
    */
  protected def x35(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    dts(s, dir)
      .where(col("doc_id") % 3 === 2)
      .select(
        col("doc_id"),
        GraftFunctions
          .imageAHash(
            GraftFunctions.resizeBmp(
              GraftFunctions.buildBmp(
                col("doc_id"),
                (lit(16) + col("doc_id") % 16).cast("int"),
                (lit(16) + col("doc_id") % 12).cast("int")
              ),
              (lit(8) + col("doc_id") % 7).cast("int"),
              (lit(8) + col("doc_id") % 5).cast("int")
            )
          )
          .as("ahash")
      )
      .select(
        col("doc_id"),
        shiftright(col("ahash"), 32).bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_hi"),
        col("ahash").bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_lo")
      )
      .orderBy(col("doc_id"))
  }

  /** Graph-centrality surface: 3-iteration PageRank in exact integer
    * arithmetic over the symmetrized customer–supplier trade graph
    * (edge = customer ordered a part shipped by supplier; node ids are
    * disambiguated 2*custkey / 2*suppkey+1). Integer rank units make the
    * result bit-identical across engines and partitionings — the DuckDB
    * oracle replays the same three truncating-arithmetic iterations.
    */
  protected def x46(s: SparkSession, dir: String): DataFrame = {
    // no .distinct() here (r15): integerPageRank dedups its edge list
    // anyway (`e = edges.distinct()`), so the pre-distinct was a second
    // full shuffle+agg of the joined rows for an identical edge set
    val trade = t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(
        (col("o_custkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b")
      )
    val sym = trade
      .select(
        explode(
          array(
            struct(col("a").as("src"), col("b").as("dst")),
            struct(col("b").as("src"), col("a").as("dst"))
          )
        ).as("e")
      )
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    PageRank
      .integerPageRank(sym, iters = 3)
      .orderBy(col("node_id"))
  }

  /** PNG pixel-decode surface: x29's shape over PNG bytes — build_png
    * writes real zlib/DEFLATE-framed scanlines (stored blocks), the
    * decode inflates and filter-reconstructs them, and the oracle is the
    * SAME closed-form pixel formula as x29/x32 (a third doc subset).
    * The three image formats now share one pixel ground truth across
    * three genuinely different byte encodings.
    */
  protected def x49(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    dts(s, dir)
      .where(col("doc_id") % 3 === 2)
      .select(
        col("doc_id"),
        GraftFunctions
          .imageAHash(
            GraftFunctions.buildPng(
              col("doc_id"),
              (lit(16) + col("doc_id") % 16).cast("int"),
              (lit(16) + col("doc_id") % 12).cast("int")
            )
          )
          .as("ahash")
      )
      .select(
        col("doc_id"),
        shiftright(col("ahash"), 32).bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_hi"),
        col("ahash").bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_lo")
      )
      .orderBy(col("doc_id"))
  }

  /** JPEG pixel-decode surface: build_jpeg emits baseline JPEGs whose
    * 8×8 tiles are block-constant (DC-only FDCT — exact with quant 1),
    * the decode runs the REAL baseline pipeline (canonical Huffman,
    * EXTEND, dequant, IDCT, MCU crop), and the oracle recomputes the
    * pixels from the per-BLOCK closed form g(x div 8, y div 8). A hash
    * match proves the Huffman+IDCT walk byte-exact — the x32 LZW
    * argument, now for the last image codec.
    */
  protected def x50(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    dts(s, dir)
      .where(col("doc_id") % 3 === 0)
      .select(
        col("doc_id"),
        GraftFunctions
          .imageAHash(
            GraftFunctions.buildJpeg(
              col("doc_id"),
              (lit(16) + col("doc_id") % 16).cast("int"),
              (lit(16) + col("doc_id") % 12).cast("int")
            )
          )
          .as("ahash")
      )
      .select(
        col("doc_id"),
        shiftright(col("ahash"), 32).bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_hi"),
        col("ahash").bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_lo")
      )
      .orderBy(col("doc_id"))
  }

  /** Multimodal metadata surface #1: MP4 container decode — genuine
    * ISO-BMFF files ([[graft.functions.BuildMp4]]: ftyp + moov(mvhd +
    * trak(tkhd)) + mdat) are REALLY box-walked by
    * [[graft.functions.Mp4Codec]] (mvhd timescale→duration, tkhd 16.16
    * dims), shrinking the long-standing `fakeDecodeMeta` stub to
    * compressed-stream payloads only. The oracle recomputes dims/duration
    * from the doc_id closed form — the x33 encode→decode→verify contract
    * applied to the video container.
    */
  protected def x53(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    dts(s, dir)
      .where(col("doc_id") % 5 === 1)
      .select(
        col("doc_id"),
        Multimodal
          .decodeMeta(
            GraftFunctions.buildMp4(
              (lit(16) + col("doc_id") % 73 * 2).cast("int"),
              (lit(16) + col("doc_id") % 57 * 2).cast("int"),
              (lit(1000) + col("doc_id") % 997 * 7).cast("int")
            )
          )
          .as("m")
      )
      .select(
        col("doc_id"),
        col("m.format").as("format"),
        col("m.width").as("width"),
        col("m.height").as("height"),
        col("m.duration_ms").as("duration_ms")
      )
      .orderBy(col("doc_id"))
  }

  /** Multimodal metadata surface #2: MP3 frame-header decode — genuine
    * CBR MPEG1-Layer-III files behind a real ID3v2 tag
    * ([[graft.functions.BuildMp3]]) are parsed by
    * [[graft.functions.Mp3Codec]] (syncsafe tag skip, frame sync,
    * bitrate/samplerate table lookup, CBR duration estimate). The tag
    * size varies per doc so the skip path is exercised corpus-wide.
    */
  protected def x54(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    dts(s, dir)
      .where(col("doc_id") % 5 === 3)
      .select(
        col("doc_id"),
        Multimodal
          .decodeMeta(
            GraftFunctions.buildMp3(
              col("doc_id"),
              (lit(3) + col("doc_id") % 29).cast("int"),
              (col("doc_id") % 17).cast("int")
            )
          )
          .as("m")
      )
      .select(
        col("doc_id"),
        col("m.format").as("format"),
        col("m.sample_rate").as("sample_rate"),
        col("m.channels").as("channels"),
        col("m.duration_ms").as("duration_ms")
      )
      .orderBy(col("doc_id"))
  }

  /** Graph surface: edit-distance-1 brand clusters — x45's SymSpell pair
    * mining fed through large-star/small-star contraction
    * ([[graft.operators.Cluster.connectedComponentsStar]], the
    * O(log n)-round CC for graphs whose diameter makes min-label
    * propagation's round count unaffordable; spec-pinned ≡ label
    * propagation in ClusterSpec). `cluster_root` is the lexicographic
    * minimum brand reachable — the same contract the oracle's
    * recursive-CTE transitive closure computes, so a hash match proves
    * the contraction found exactly the true components.
    */
  protected def x56(s: SparkSession, dir: String): DataFrame =
    Cluster
      .connectedComponentsStar(
        Fuzzy
          .editDistance1Pairs(t(s, dir, "part"), "p_brand")
          .select(col("a_val").as("a_id"), col("b_val").as("b_id")),
        maxIters = 30
      )
      .select(col("id").as("brand"), col("comp").as("cluster_root"))
      .orderBy(col("brand"))

  /** Multimodal metadata surface #3: AVI container decode — genuine RIFF
    * hdrl/strl/movi files ([[graft.functions.BuildAvi]], fixed 25 fps)
    * parsed by [[graft.functions.AviCodec]]'s MainAVIHeader walk; dims
    * from avih, duration = frames · 40 ms. Same closed-form
    * encode→decode→verify contract as x53/x54.
    */
  protected def x69(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    t(s, dir, "documents")
      .where(col("doc_id") % 5 === 2)
      .select(
        col("doc_id"),
        Multimodal
          .decodeMeta(
            GraftFunctions.buildAvi(
              (lit(32) + col("doc_id") % 61 * 2).cast("int"),
              (lit(24) + col("doc_id") % 47 * 2).cast("int"),
              (lit(10) + col("doc_id") % 241).cast("int")
            )
          )
          .as("m")
      )
      .select(
        col("doc_id"),
        col("m.format").as("format"),
        col("m.width").as("width"),
        col("m.height").as("height"),
        col("m.duration_ms").as("duration_ms")
      )
      .orderBy(col("doc_id"))
  }

  /** Seed-distance BFS surface (x72): exact hop distance from a seed set
    * over 12-node doc-id chains — even-numbered chains are seeded at
    * their head, odd chains are unreachable and surface NULL (the "no
    * trusted page vouches for this" signal). Multi-hop (dist 0..11), so
    * the frontier loop in [[graft.operators.Paths.seedDistance]] is
    * exercised to real depth, and the DuckDB oracle replays the same
    * graph with a recursive-CTE walk.
    */
  protected def x72(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "documents").select(col("doc_id"))
    val edges = ids
      .where(col("doc_id") % 12 =!= 11)
      .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
      .join(ids.select(col("doc_id").as("b")), Seq("b"))
    val seeds = ids
      .where(col("doc_id") % 12 === 0 && expr("(doc_id div 12) % 2 = 0"))
      .select(col("doc_id").as("node"))
    Paths
      .seedDistance(edges, seeds, maxIters = 40)
      // NULL-in-BIGINT renders float64 through pandas (the HUGEINT
      // lesson's sibling): surface unreachable as -1 so the hashed
      // column stays integer-rendered on both engines
      .select(col("node"), coalesce(col("dist"), lit(-1L)).as("dist"))
      .orderBy(col("node"))
  }

  /** Containment-pairs surface (x76): Broder's asymmetric C(A,B) =
    * |S(A)∩S(B)|/|S(A)| over the documents corpus PLUS planted excerpts
    * (the first 12 tokens of every ≥24-token doc, ids +20000) — each
    * excerpt's shingle set is a strict subset of its parent's, so
    * containment is exactly 1.0 while Jaccard is ≤ 10/22 < 0.5:
    * invisible to every symmetric miner (x06/x07/x08/x74), which is the
    * operator's whole point. See [[graft.operators.Dedup
    * .containmentPairs]]. The oracle brute-forces ordered pairs with
    * list_intersect over the same corpus.
    */
  protected def x76(s: SparkSession, dir: String): DataFrame = {
    // plain scan for the miner input — containmentPairs spreads its
    // representative classes internally, so a dts() here would shuffle
    // the full text corpus twice back-to-back; only the excerpt
    // DERIVATION (which tokenizes on the scan side) takes the spread frame
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val excerpts = dts(s, dir)
      .select(col("doc_id"), col("text"))
      .where(size(TextAnalysis.tokens(col("text"))) >= 24)
      .select(
        (col("doc_id") + 20000).as("doc_id"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 12)).as("text"))
    Dedup
      .containmentPairs(docs.unionAll(excerpts), n = 3, threshold = 0.6)
      .msorted(col("a_id"), col("b_id"))
  }

  /** Shared x77 round count — interpolated into the Spark call AND the
    * unrolled oracle CTEs so the two sides cannot drift.
    */
  protected val lpaRounds = 3

  /** Label-propagation surface (x77): synchronous plurality-label
    * communities after [[lpaRounds]] rounds over the x45 brand
    * edit-distance graph — density communities vs x14/x56's connectivity
    * components, fully deterministic via the smallest-label tie-break.
    * The oracle unrolls each round as a count → row_number argmax CTE
    * (the x46 technique on a per-node plurality instead of a rank sum).
    */
  protected def x77(s: SparkSession, dir: String): DataFrame =
    Cluster
      .labelPropagation(
        Fuzzy
          .editDistance1Pairs(t(s, dir, "part"), "p_brand")
          .select(col("a_val").as("a_id"), col("b_val").as("b_id")),
        rounds = lpaRounds)
      .select(col("id").as("node"), col("label"))
      .orderBy(col("node"))

  /** Shared x78 round count, same no-drift contract as [[lpaRounds]]. */
  protected val hitsRounds = 2

  /** HITS surface (x78): unnormalized exact-integer hubs & authorities
    * after [[hitsRounds]] synchronous rounds on the DIRECTED
    * customer→supplier trade graph (the x46 node encoding: cust·2,
    * supp·2+1 — here kept directed, which is exactly what PageRank's
    * symmetrized walk erases). Bipartite, so hubs live on customers and
    * authorities on suppliers — both zero-branches driver-covered. After
    * round 2: auth(s) = Σ_{c→s} outdeg(c), hub(c) = Σ_{c→s} indeg(s),
    * plain join-aggregate SQL for the oracle. See
    * [[graft.operators.Hits]].
    */
  protected def x78(s: SparkSession, dir: String): DataFrame =
    Hits
      .hubsAndAuthorities(
        t(s, dir, "orders")
          .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .select(
            (col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst")),
        rounds = hitsRounds)
      .orderBy(col("node"))

  /** VBR MP3 surface (x80): genuinely variable-bitrate fixtures
    * ([[graft.functions.BuildMp3Vbr]] — audio frames alternate 128/64
    * kbps, each with its own correct header) whose duration the decoder
    * must recover through the Xing frame-count tag; the CBR byte-length
    * estimate is wrong on these files by construction. Duration closed
    * form: frames · 1152 · 1000 div 44100 ms. Closes the "header-only
    * CBR estimate" caveat that was the container story's one asterisk
    * (x54 stays as the CBR regression pin).
    */
  protected def x80(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    dts(s, dir)
      .where(col("doc_id") % 5 === 4)
      .select(
        col("doc_id"),
        Multimodal
          .decodeMeta(
            GraftFunctions.buildMp3Vbr(
              col("doc_id"),
              (lit(3) + col("doc_id") % 29).cast("int"),
              (col("doc_id") % 17).cast("int")
            )
          )
          .as("m")
      )
      .select(
        col("doc_id"),
        col("m.format").as("format"),
        col("m.sample_rate").as("sample_rate"),
        col("m.channels").as("channels"),
        col("m.duration_ms").as("duration_ms")
      )
      .orderBy(col("doc_id"))
  }

  /** Bipartite co-occurrence surface (x82): customers projected through
    * shared parts — weight = |shared parts|, hub parts (degree > 40,
    * live at sf0.01 where 51 of 2000 parts exceed it) excluded by the
    * df-prune discipline, weight ≥ 2 — see
    * [[graft.operators.Bipartite.coOccurrencePairs]].
    */
  protected def x82(s: SparkSession, dir: String): DataFrame =
    Bipartite
      .coOccurrencePairs(
        t(s, dir, "orders")
          .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_partkey").as("part")),
        leftCol = "cust",
        rightCol = "part",
        maxDegree = 40,
        minShared = 2L)
      // msort (r16): the bare orderBy's range-sampling job re-ran the
      // final pair aggregation over the 83 MB candidate exchange
      // (measured: a 6 s-task-time sampling stage at sf0.1); the
      // round-robin boundary materializes the 3 MB aggregated result
      // once and both sampler and sort read it
      .msorted(col("a_id"), col("b_id"))

  /** Transition-matrix surface (x85): per-(prev, next) event-type counts
    * and departure-fraction ppm over each user's (ts_us, event_id)-ordered
    * stream — see [[graft.operators.Sessionize.transitionCounts]]. The
    * oracle replays lag() inside each user partition plus the exact
    * integer division.
    */
  protected def x85(s: SparkSession, dir: String): DataFrame =
    Sessionize
      .transitionCounts(
        ev(s, dir),
        key = col("user_id"),
        ts = col("ts_us"),
        tieBreak = col("event_id"),
        state = col("event_type"))
      .orderBy(col("prev_state"), col("next_state"))

  /** Funnel surface (x86): signup → purchase → error over each user's
    * first two days of events (the window keeps conversion genuinely
    * partial: 86/41/13 users at stages 1/2/3 of 150 at sf0.01; the
    * stage-3 branch is empty at sf0.001 and live at sf0.01 — the
    * multi-SF sweep covers both) — see
    * [[graft.operators.Sessionize.funnelStages]]. Positions sentinel to
    * −1 (the nullable-BIGINT rendering rule).
    */
  protected def x86(s: SparkSession, dir: String): DataFrame =
    Sessionize
      .funnelStages(
        ev(s, dir).where(col("ts_us") < lit(1704067200000000L + 2L * 86400000000L)),
        key = col("user_id"),
        ts = col("ts_us"),
        tieBreak = col("event_id"),
        state = col("event_type"),
        steps = Seq("signup", "purchase", "error"))
      .withColumnRenamed("key", "user_id")
      .orderBy(col("user_id"))

  /** Session-paths surface (x88): top-20 most frequent per-session
    * event-type journeys under the x17 6-hour gap (the events table's
    * ~10.7 h mean inter-event gap makes single-event sessions common, so
    * path counts are genuinely repeated) — see
    * [[graft.operators.Sessionize.sessionPaths]]. (n_sessions desc,
    * path) is a total order (paths are distinct rows), so the LIMIT 20
    * set is deterministic on both engines, the x38 contract.
    */
  protected def x88(s: SparkSession, dir: String): DataFrame =
    Sessionize
      .sessionPaths(
        ev(s, dir),
        key = col("user_id"),
        ts = col("ts_us"),
        maxGap = 21600000000L,
        tieBreak = col("event_id"),
        state = col("event_type"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)

  /** AVI frame-sampling surface (x89): every 2nd movi frame's
    * position-weighted payload checksum from genuine multi-frame RIFF
    * files ([[graft.functions.BuildAviFrames]] — one '00dc' chunk per
    * frame, payload byte i of frame f = (w·31+h·17+f·7+i·13) mod 256) —
    * the x34 video-frame-sampling verb on the second container, via
    * [[graft.functions.AviFrameChecksums]]' real chunk walk. The oracle
    * recomputes each sampled checksum from (w, h, f) alone, so a match
    * proves the movi walk ran. Decode repartitioned off the scan (the
    * x34 rule).
    */
  protected def x89(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    t(s, dir, "documents")
      .where(col("doc_id") % 7 === 1)
      .select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        posexplode(
          GraftFunctions.aviFrameChecksums(
            GraftFunctions.buildAviFrames(
              (lit(8) + col("doc_id") % 23).cast("int"),
              (lit(8) + col("doc_id") % 19).cast("int"),
              (lit(2) + col("doc_id") % 9).cast("int")),
            lit(2))).as(Seq("pos", "checksum")))
      .select(
        col("doc_id"),
        (col("pos") * 2).cast("int").as("frame_idx"),
        col("checksum"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** HTML → text extraction surface (x90): the missing FIRST stage of a
    * web corpus — every document's text is planted into a deterministic
    * page ([[graft.functions.BuildHtml]]: head with script/style that
    * contain decoy markup, a pure-link nav, a comment wrapping a ghost
    * paragraph, the text in a content block with one inline link, a
    * link-dense footer with entities), then recovered by
    * [[graft.functions.HtmlExtract]]'s real single-pass walk: visible
    * text + per-block link-density boilerplate filter (Kohlschütter et
    * al., WSDM'10). The oracle rebuilds full_text and main_text from
    * (doc_id, text) in closed form, so a hash match proves the walk
    * skipped script/style/comments/head, decoded &#33;/&amp;, split
    * blocks at block tags, and measured density per block. Map-only;
    * extraction repartitioned off the 2-split scan (the x34 rule).
    */
  protected def x90(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    t(s, dir, "documents")
      .where(col("doc_id") % 3 === 1)
      .select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        GraftFunctions
          .htmlExtract(GraftFunctions.buildHtml(col("doc_id"), col("text")), lit(0.5))
          .as("x"))
      .select(
        col("doc_id"),
        col("x.full_text").as("full_text"),
        col("x.main_text").as("main_text"),
        col("x.n_blocks").as("n_blocks"),
        col("x.n_dropped").as("n_dropped"))
      .orderBy(col("doc_id"))
  }

  /** WARC container-ingestion surface (x92): the stage UPSTREAM of x90 —
    * each selected document becomes a genuine multi-record WARC/1.0 file
    * ([[graft.functions.BuildWarc]]: a warcinfo record + 1+id%3 resource
    * records whose payload is the x90 planted page), then
    * [[graft.functions.WarcRecords]]' real record walk splits it back
    * (magic check, case-insensitive headers, Content-Length-exact payload
    * read, two-CRLF separator) and HtmlExtract recovers the main text
    * from each payload: WARC → records → HTML → text, the complete web
    * front matter. The oracle rebuilds the ENTIRE byte layout in SQL —
    * every header string, the page's byte length, and each record's
    * closed-form byte offset — so a hash match proves the walk consumed
    * real lengths at real positions (the x89 movi-walk standard applied
    * to WARC). Map-only; split+extract repartitioned off the scan (the
    * x34 rule).
    */
  protected def x92(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    t(s, dir, "documents")
      .where(col("doc_id") % 5 === 2)
      .select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        posexplode(
          GraftFunctions.warcRecords(
            GraftFunctions.buildWarc(col("doc_id"), col("text"))))
          .as(Seq("pos", "r")))
      .where(col("r.rec_type") === "resource")
      .select(
        col("doc_id"),
        (col("pos") - 1).cast("int").as("rec_idx"),
        col("r.target_uri").as("target_uri"),
        col("r.rec_date").as("rec_date"),
        col("r.rec_offset").as("rec_offset"),
        col("r.content_length").as("content_length"),
        GraftFunctions
          .htmlExtract(col("r.payload"), lit(0.5))
          .getField("main_text")
          .as("main_text"))
      .orderBy(col("doc_id"), col("rec_idx"))
  }

  /** Link-extraction surface (x93): every `<a href>` of the planted page
    * in document order via [[graft.functions.HtmlLinks]]' quote-aware
    * attribute walk — the HTML → WEB-GRAPH step between x90/x92's text
    * extraction and the graph family. The oracle enumerates the five
    * closed-form anchors per page (nav /p/{id}, hub /q/{id%13}, inline
    * /ref/{id}, footer /about + /tos) with their positions, so a hash
    * match proves the walk parsed real attributes (not regex-grepped
    * quotes — script/style/comment decoys contain no anchors by
    * construction, and HtmlLinksSpec pins those against hand-built
    * pages). Map-only; extraction repartitioned off the scan.
    */
  protected def x93(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    t(s, dir, "documents")
      .where(col("doc_id") % 4 === 3)
      .select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        posexplode(
          GraftFunctions.htmlLinks(
            GraftFunctions.buildHtml(col("doc_id"), col("text"))))
          .as(Seq("pos", "href")))
      .select(col("doc_id"), col("pos").cast("int").as("link_idx"), col("href"))
      .orderBy(col("doc_id"), col("link_idx"))
  }

  /** Web-graph PageRank surface (x94): the END of the web chain — edges
    * come from x93's EXTRACTED hub anchors (doc d links /q/{d%13}; node
    * ids doc·2 / hub·2+1, symmetrized), ranked by the same 3-round
    * integer PageRank as x46. WARC → HTML → links → graph → rank, every
    * stage a real operator, the whole chain hash-oracled: the oracle
    * rebuilds the closed-form edge set and unrolls the identical integer
    * recurrence, so a match proves extraction fed the graph.
    */
  protected def x94(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val half = t(s, dir, "documents")
      .where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        explode(
          GraftFunctions.htmlLinks(
            GraftFunctions.buildHtml(col("doc_id"), col("text")))).as("href"))
      .where(col("href").startsWith("/q/"))
      .select(
        (col("doc_id") * 2).as("src"),
        (substring(col("href"), 4, 10).cast("long") * 2 + 1).as("dst"))
    PageRank
      .integerPageRank(half.unionAll(half.select(col("dst").as("src"), col("src").as("dst"))))
      .orderBy(col("node_id"))
  }

  /** robots.txt evaluation surface (x99): the crawl-politeness gate
    * between URL discovery (x93/x95) and fetching —
    * [[graft.functions.RobotsAllowed]]'s full RFC 9309 semantics over a
    * two-group fixture (a `*` group with prefix rules, an Allow
    * override, and a star-dot-tmp-dollar wildcard-anchor rule; a merged
    * graftbot/otherbot group with its own rules) evaluated for six path
    * cases per document under two crawler identities. The expected
    * decision matrix is closed-form in (case, agent-parity): group
    * selection by longest agent-token prefix, longest-pattern
    * precedence, Allow-wins-ties, and wildcard/anchor matching all
    * contribute distinguishing rows — a hash match certifies the whole
    * rule engine.
    */
  protected def x99(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val ids = col("doc_id").cast("string")
    val k = (col("doc_id") % 5).cast("string")
    val robots = concat(
      lit("# graft fixture\nUser-agent: *\nDisallow: /private"), k,
      lit("/\nAllow: /private"), k,
      lit("/ok/\nDisallow: /*.tmp$\n\nUser-agent: graftbot\nUser-agent: otherbot\nDisallow: /q/\nAllow: /q/open\n"))
    val agent = when(col("doc_id") % 2 === 0, lit("graftbot/1.0"))
      .otherwise(lit("randombot"))
    val paths = array(
      concat(lit("/a"), ids, lit("/x")),
      concat(lit("/private"), k, lit("/ok/f")),
      concat(lit("/private"), k, lit("/secret")),
      concat(lit("/f"), ids, lit(".tmp")),
      lit("/q/page"),
      concat(lit("/q/open"), ids))
    t(s, dir, "documents")
      .where(col("doc_id") % 6 === 4)
      .select(col("doc_id"))
      .select(
        col("doc_id"),
        robots.as("robots"),
        agent.as("agent"),
        posexplode(paths).as(Seq("case_idx", "path")))
      .select(
        col("doc_id"),
        col("case_idx").cast("int").as("case_idx"),
        col("path"),
        col("agent"),
        GraftFunctions
          .robotsAllowed(col("robots"), col("agent"), col("path"))
          .as("allowed"))
      .orderBy(col("doc_id"), col("case_idx"))
  }

  /** CDX index-generation surface (x98): the crawl RANDOM-ACCESS index —
    * real archives pair every `.warc(.gz)` shard with a CDX file of
    * (SURT key, byte offset, record length) rows so a replay/dedup job
    * can seek straight to one record. Three existing operators compose:
    * [[graft.functions.WarcRecords]] provides measured offsets,
    * [[graft.functions.UrlNormalize]] canonicalizes each record's
    * target URI, and BUILTINS derive the SURT key (reverse the host
    * labels: `com,example)/path` — `split`/`reverse`/`array_join`) and
    * the record length (`lead(offset)` bounded by the measured file
    * size — a per-FILE window, bounded by records-per-file, never a
    * global sort). The oracle re-derives every column in closed form
    * (offset arithmetic as x92, length = header+payload+separator
    * size), so a match proves measured offsets AND measured lengths
    * agree with the byte layout.
    */
  protected def x98(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val u = GraftFunctions.urlNormalize(col("r.target_uri"))
    t(s, dir, "documents")
      .where(col("doc_id") % 5 === 2)
      .select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        GraftFunctions.buildWarc(col("doc_id"), col("text")).as("bytes"))
      .select(
        col("doc_id"),
        length(col("bytes")).cast("long").as("fsize"),
        posexplode(GraftFunctions.warcRecords(col("bytes"))).as(Seq("pos", "r")))
      .withColumn("next_off", lead(col("r.rec_offset"), 1).over(w))
      .where(col("r.rec_type") === "resource")
      .select(
        col("doc_id"),
        (col("pos") - 1).cast("int").as("rec_idx"),
        concat(
          array_join(reverse(split(u.getField("host"), "\\.")), ","),
          lit(")"),
          u.getField("path")).as("surt_key"),
        col("r.rec_offset").as("rec_offset"),
        (coalesce(col("next_off"), col("fsize")) - col("r.rec_offset")).as("rec_len"))
      .orderBy(col("doc_id"), col("rec_idx"))
  }

  /** Compressed-WARC ingestion surface (x97): the missing compression
    * layer of the web front matter — real crawls ship `.warc.gz` with
    * ONE GZIP MEMBER PER RECORD (so readers can seek + inflate a single
    * record), and [[graft.functions.BuildWarcGz]] writes exactly that
    * layout. [[graft.functions.GzipMembers]] walks the RFC 1952
    * container (full header incl. FEXTRA/FNAME/FCOMMENT/FHCRC, reserved
    * FLG rejection) and REALLY inflates each member (JDK zlib — the PNG
    * precedent), verifying CRC32 + ISIZE per member; each plaintext then
    * flows through the x92 record walk and HtmlExtract. The oracle is
    * x92's closed form minus byte offsets (compressed sizes aren't
    * closed-form): uri/date/Content-Length/main_text per record — a
    * match proves member split + inflate + checksum + record walk +
    * extraction end-to-end. gzip/deflate was the one compressed-stream
    * family the engine disclosed as out of scope; for WARC it is now
    * in scope because the JDK ships the codec.
    */
  protected def x97(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    t(s, dir, "documents")
      .where(col("doc_id") % 7 === 3)
      .select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(
        col("doc_id"),
        posexplode(
          GraftFunctions.gzipMembers(
            GraftFunctions.buildWarcGz(col("doc_id"), col("text"))))
          .as(Seq("pos", "m")))
      .select(
        col("doc_id"),
        col("pos"),
        element_at(GraftFunctions.warcRecords(col("m")), 1).as("r"))
      .where(col("r.rec_type") === "resource")
      .select(
        col("doc_id"),
        (col("pos") - 1).cast("int").as("rec_idx"),
        col("r.target_uri").as("target_uri"),
        col("r.rec_date").as("rec_date"),
        col("r.content_length").as("content_length"),
        GraftFunctions
          .htmlExtract(col("r.payload"), lit(0.5))
          .getField("main_text")
          .as("main_text"))
      .orderBy(col("doc_id"), col("rec_idx"))
  }

  /** URL-canonicalization surface (x95): [[graft.functions
    * .UrlNormalize]]'s RFC 3986 §6 normalization over a two-form
    * id-derived URL fixture — uppercase scheme/host lowered, default
    * port 80 dropped vs explicit 8443 kept, `%41`→`A` and `%7e`→`~`
    * unreserved decodes, `%2f` reserved-escape hex UPPERCASED (not
    * decoded), `/./` and `/../` dot segments removed with `//`
    * preserved, fragment dropped. The step between link extraction
    * (x93) and URL-keyed dedup: unnormalized aliases inflate every
    * URL-keyed shuffle at 100 TB. The oracle states the expected
    * canonical form per id in closed form — the fixture varies with
    * doc_id, so echoing the input cannot match.
    */
  protected def x95(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val ids = col("doc_id").cast("string")
    val url = when(
      col("doc_id") % 2 === 0,
      concat(
        lit("HTTP://EXample"), (col("doc_id") % 5).cast("string"),
        lit(".COM:80/a"), ids, lit("/./x/../p%41th/"), ids,
        lit("?b=2&a=%2f#frag"), ids))
      .otherwise(concat(
        lit("HTTPS://sub.EXample"), (col("doc_id") % 5).cast("string"),
        lit(".COM:8443/%7euser//"), ids, lit("/../"), ids, lit("/")))
    t(s, dir, "documents")
      .where(col("doc_id") % 3 === 2)
      .select(col("doc_id"))
      .select(col("doc_id"), GraftFunctions.urlNormalize(url).as("u"))
      .select(
        col("doc_id"),
        col("u.norm_url").as("norm_url"),
        col("u.scheme").as("scheme"),
        col("u.host").as("host"),
        col("u.path").as("path"))
      .orderBy(col("doc_id"))
  }

  /** Triangle-counting surface: per-node triangle count, degree, and
    * integer-ppm clustering coefficient over the x45 edit-distance-1
    * brand graph (130 edges, 301 triangles at sf0.01) by degree-oriented
    * wedge join — see [[graft.operators.Triangles]]. Rounds out the graph
    * family (PageRank x46, components x14/x56) with the community-density
    * signal; the oracle triple-joins the canonical a<b edge list, which
    * counts each triangle exactly once, same as the orientation argument.
    */
  protected def x63(s: SparkSession, dir: String): DataFrame =
    Triangles
      .perNode(
        Fuzzy
          .editDistance1Pairs(t(s, dir, "part"), "p_brand")
          .select(col("a_val").as("a"), col("b_val").as("b")))
      .orderBy(col("node"))

  protected def lpaIterSql(i: Int): String = {
    val prev = s"l${i - 1}"
    s"""c$i AS (
       |  SELECT b.dst AS id, l.label, count(*) AS c
       |  FROM bidir b JOIN $prev l ON b.src = l.id GROUP BY b.dst, l.label
       |), l$i AS (
       |  SELECT id, label FROM (
       |    SELECT id, label,
       |      row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
       |    FROM c$i) WHERE rn = 1
       |)""".stripMargin
  }

  protected lazy val mediaQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x29_image_ahash" -> (x29 _),
    "x30_image_neardup" -> (x30 _),
    "x32_gif_ahash" -> (x32 _),
    "x33_audio_features" -> (x33 _),
    "x34_gif_frame_sample" -> (x34 _),
    "x35_image_resize" -> (x35 _),
    "x86_funnel" -> (x86 _),
    "x88_session_paths" -> (x88 _),
    "x89_avi_frames" -> (x89 _),
    "x90_html_extract" -> (x90 _),
    "x92_warc_records" -> (x92 _),
    "x93_html_links" -> (x93 _),
    "x94_web_pagerank" -> (x94 _),
    "x95_url_normalize" -> (x95 _),
    "x97_warc_gz" -> (x97 _),
    "x98_cdx_index" -> (x98 _),
    "x99_robots" -> (x99 _),
    "x46_pagerank" -> (x46 _),
    "x49_png_ahash" -> (x49 _),
    "x50_jpeg_ahash" -> (x50 _),
    "x53_mp4_meta" -> (x53 _),
    "x54_mp3_meta" -> (x54 _),
    "x56_fuzzy_clusters" -> (x56 _),
    "x63_triangles" -> (x63 _),
    "x69_avi_meta" -> (x69 _),
    "x72_seed_distance" -> (x72 _),
    "x76_containment" -> (x76 _),
    "x77_label_prop" -> (x77 _),
    "x78_hits" -> (x78 _),
    "x80_mp3_vbr" -> (x80 _),
    "x82_cooccurrence" -> (x82 _),
    "x85_transitions" -> (x85 _)
  )

  protected lazy val mediaOracles: Map[String, String] = Map(
    // x29/x30: Spark builds REAL BMP bytes and pixel-decodes them
    // (BuildBmp → ImageAHash); the oracle recomputes the aHash from the
    // closed-form pixel values — gray(pid,x,y) = (pid·131+x·7+y·13) % 256,
    // cell (y·8//h, x·8//w), bit = exact-integer mean threshold — so the
    // whole encode→decode→hash round-trip is what the hash match verifies.
    "x29_image_ahash" ->
      """WITH dims AS (
        |  SELECT doc_id, doc_id AS pid,
        |         CAST(16 + doc_id % 16 AS INTEGER) AS w,
        |         CAST(16 + doc_id % 12 AS INTEGER) AS h
        |  FROM documents WHERE doc_id % 3 = 0
        |), xs AS (
        |  SELECT doc_id, pid, w, h, unnest(range(w)) AS x FROM dims
        |), px AS (
        |  SELECT doc_id, pid, w, h, x, unnest(range(h)) AS y FROM xs
        |), lum AS (
        |  SELECT doc_id, (y * 8) // h AS ci, (x * 8) // w AS cj,
        |         (pid * 131 + x * 7 + y * 13) % 256 AS g
        |  FROM px
        |), cells AS (
        |  SELECT doc_id, ci, cj, sum(g) AS cs, count(*) AS cn FROM lum GROUP BY 1, 2, 3
        |), tot AS (
        |  SELECT doc_id, sum(g) AS ts, count(*) AS tn FROM lum GROUP BY 1
        |), bits AS (
        |  SELECT c.doc_id, c.ci * 8 + c.cj AS p,
        |         CASE WHEN c.cs * t.tn >= t.ts * c.cn THEN 1 ELSE 0 END AS bit
        |  FROM cells c JOIN tot t USING (doc_id)
        |)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN bit = 1 AND p < 32 THEN (CAST(1 AS BIGINT) << (31 - p)) ELSE 0 END) AS BIGINT) AS ahash_hi,
        |  CAST(sum(CASE WHEN bit = 1 AND p >= 32 THEN (CAST(1 AS BIGINT) << (63 - p)) ELSE 0 END) AS BIGINT) AS ahash_lo
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // x32: identical closed form to x29 (the pixel formula is shared by
    // BuildBmp and BuildGif); only the doc subset differs — Spark-side the
    // pixels travel through a real LZW encode/decode round-trip instead
    "x32_gif_ahash" ->
      """WITH dims AS (
        |  SELECT doc_id, doc_id AS pid,
        |         CAST(16 + doc_id % 16 AS INTEGER) AS w,
        |         CAST(16 + doc_id % 12 AS INTEGER) AS h
        |  FROM documents WHERE doc_id % 3 = 1
        |), xs AS (
        |  SELECT doc_id, pid, w, h, unnest(range(w)) AS x FROM dims
        |), px AS (
        |  SELECT doc_id, pid, w, h, x, unnest(range(h)) AS y FROM xs
        |), lum AS (
        |  SELECT doc_id, (y * 8) // h AS ci, (x * 8) // w AS cj,
        |         (pid * 131 + x * 7 + y * 13) % 256 AS g
        |  FROM px
        |), cells AS (
        |  SELECT doc_id, ci, cj, sum(g) AS cs, count(*) AS cn FROM lum GROUP BY 1, 2, 3
        |), tot AS (
        |  SELECT doc_id, sum(g) AS ts, count(*) AS tn FROM lum GROUP BY 1
        |), bits AS (
        |  SELECT c.doc_id, c.ci * 8 + c.cj AS p,
        |         CASE WHEN c.cs * t.tn >= t.ts * c.cn THEN 1 ELSE 0 END AS bit
        |  FROM cells c JOIN tot t USING (doc_id)
        |)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN bit = 1 AND p < 32 THEN (CAST(1 AS BIGINT) << (31 - p)) ELSE 0 END) AS BIGINT) AS ahash_hi,
        |  CAST(sum(CASE WHEN bit = 1 AND p >= 32 THEN (CAST(1 AS BIGINT) << (63 - p)) ELSE 0 END) AS BIGINT) AS ahash_lo
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // x33: the oracle recomputes every audio statistic from the closed-form
    // sample formula (id, i) alone — the bytes Spark decodes never leave
    // Spark, so a hash match proves the WAV encode→decode round-trip exact.
    // All-integer contract (sums/peaks/floor-ms), no doubles to render.
    "x33_audio_features" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(8000 + (doc_id % 5) * 2000 AS INTEGER) AS rate,
        |         CAST(400 + doc_id % 377 AS INTEGER) AS n
        |  FROM documents WHERE doc_id % 4 = 2
        |), samp AS (
        |  SELECT doc_id, rate, n, unnest(range(n)) AS i FROM d
        |), s AS (
        |  SELECT doc_id, rate, n, i,
        |         (doc_id * 7919 + i * 2657) % 4001 - 2000 AS v,
        |         CASE WHEN i > 0 THEN (doc_id * 7919 + (i - 1) * 2657) % 4001 - 2000 END AS pv
        |  FROM samp
        |)
        |SELECT doc_id,
        |  CAST(max(n) AS INTEGER) AS n_samples,
        |  CAST(max(rate) AS INTEGER) AS sample_rate,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        |  CAST(max(abs(v)) AS INTEGER) AS peak,
        |  CAST(sum(CASE WHEN i > 0 AND ((v < 0) <> (pv < 0)) THEN 1 ELSE 0 END) AS INTEGER) AS zero_cross,
        |  CAST((max(n) * 1000) // max(rate) AS BIGINT) AS duration_ms
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // x34: per-frame aHash of frame f = the x29 closed form with the f·37
    // shift; sampling (f % 2 = 0) is applied to the formula domain exactly
    // as Spark filters the posexploded frame index.
    "x34_gif_frame_sample" ->
      """WITH dims AS (
        |  SELECT doc_id, doc_id AS pid,
        |         CAST(16 + doc_id % 13 AS INTEGER) AS w,
        |         CAST(16 + doc_id % 9 AS INTEGER) AS h,
        |         CAST(3 + doc_id % 4 AS INTEGER) AS nf
        |  FROM documents WHERE doc_id % 4 = 3
        |), fr AS (
        |  SELECT doc_id, pid, w, h, unnest(range(nf)) AS f FROM dims
        |), sel AS (
        |  SELECT * FROM fr WHERE f % 2 = 0
        |), xs AS (
        |  SELECT doc_id, pid, w, h, f, unnest(range(w)) AS x FROM sel
        |), px AS (
        |  SELECT doc_id, pid, w, h, f, x, unnest(range(h)) AS y FROM xs
        |), lum AS (
        |  SELECT doc_id, f, (y * 8) // h AS ci, (x * 8) // w AS cj,
        |         (pid * 131 + f * 37 + x * 7 + y * 13) % 256 AS g
        |  FROM px
        |), cells AS (
        |  SELECT doc_id, f, ci, cj, sum(g) AS cs, count(*) AS cn FROM lum GROUP BY 1, 2, 3, 4
        |), tot AS (
        |  SELECT doc_id, f, sum(g) AS ts, count(*) AS tn FROM lum GROUP BY 1, 2
        |), bits AS (
        |  SELECT c.doc_id, c.f, c.ci * 8 + c.cj AS p,
        |         CASE WHEN c.cs * t.tn >= t.ts * c.cn THEN 1 ELSE 0 END AS bit
        |  FROM cells c JOIN tot t USING (doc_id, f)
        |)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
        |  CAST(sum(CASE WHEN bit = 1 AND p < 32 THEN (CAST(1 AS BIGINT) << (31 - p)) ELSE 0 END) AS BIGINT) AS fhash_hi,
        |  CAST(sum(CASE WHEN bit = 1 AND p >= 32 THEN (CAST(1 AS BIGINT) << (63 - p)) ELSE 0 END) AS BIGINT) AS fhash_lo
        |FROM bits GROUP BY doc_id, f ORDER BY doc_id, frame_idx""".stripMargin,
    // x35: the oracle composes the source-pixel formula with the same
    // floor-division NN mapping src=(dst·srcDim)//dstDim, then hashes the
    // w2×h2 grid — a match pins the resize geometry through two full
    // encode→decode round-trips (grayscale survives the 24-bit re-encode,
    // so luminance(g,g,g)=g on the resized side too).
    "x35_image_resize" ->
      """WITH dims AS (
        |  SELECT doc_id, doc_id AS pid,
        |         CAST(16 + doc_id % 16 AS INTEGER) AS w,
        |         CAST(16 + doc_id % 12 AS INTEGER) AS h,
        |         CAST(8 + doc_id % 7 AS INTEGER) AS w2,
        |         CAST(8 + doc_id % 5 AS INTEGER) AS h2
        |  FROM documents WHERE doc_id % 3 = 2
        |), xs AS (
        |  SELECT doc_id, pid, w, h, w2, h2, unnest(range(w2)) AS x FROM dims
        |), px AS (
        |  SELECT doc_id, pid, w, h, w2, h2, x, unnest(range(h2)) AS y FROM xs
        |), lum AS (
        |  SELECT doc_id, (y * 8) // h2 AS ci, (x * 8) // w2 AS cj,
        |         (pid * 131 + ((x * w) // w2) * 7 + ((y * h) // h2) * 13) % 256 AS g
        |  FROM px
        |), cells AS (
        |  SELECT doc_id, ci, cj, sum(g) AS cs, count(*) AS cn FROM lum GROUP BY 1, 2, 3
        |), tot AS (
        |  SELECT doc_id, sum(g) AS ts, count(*) AS tn FROM lum GROUP BY 1
        |), bits AS (
        |  SELECT c.doc_id, c.ci * 8 + c.cj AS p,
        |         CASE WHEN c.cs * t.tn >= t.ts * c.cn THEN 1 ELSE 0 END AS bit
        |  FROM cells c JOIN tot t USING (doc_id)
        |)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN bit = 1 AND p < 32 THEN (CAST(1 AS BIGINT) << (31 - p)) ELSE 0 END) AS BIGINT) AS ahash_hi,
        |  CAST(sum(CASE WHEN bit = 1 AND p >= 32 THEN (CAST(1 AS BIGINT) << (63 - p)) ELSE 0 END) AS BIGINT) AS ahash_lo
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x30_image_neardup" ->
      """WITH dims AS (
        |  SELECT doc_id, doc_id // 2 AS pid,
        |         CAST(16 + (doc_id // 2) % 16 AS INTEGER) AS w,
        |         CAST(16 + (doc_id // 2) % 12 AS INTEGER) AS h
        |  FROM documents WHERE doc_id % 4 < 2
        |), xs AS (
        |  SELECT doc_id, pid, w, h, unnest(range(w)) AS x FROM dims
        |), px AS (
        |  SELECT doc_id, pid, w, h, x, unnest(range(h)) AS y FROM xs
        |), lum AS (
        |  SELECT doc_id, (y * 8) // h AS ci, (x * 8) // w AS cj,
        |         (pid * 131 + x * 7 + y * 13) % 256 AS g
        |  FROM px
        |), cells AS (
        |  SELECT doc_id, ci, cj, sum(g) AS cs, count(*) AS cn FROM lum GROUP BY 1, 2, 3
        |), tot AS (
        |  SELECT doc_id, sum(g) AS ts, count(*) AS tn FROM lum GROUP BY 1
        |), bits AS (
        |  SELECT c.doc_id, c.ci * 8 + c.cj AS p,
        |         CASE WHEN c.cs * t.tn >= t.ts * c.cn THEN 1 ELSE 0 END AS bit
        |  FROM cells c JOIN tot t USING (doc_id)
        |), hashes AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN bit = 1 AND p < 16 THEN (CAST(1 AS BIGINT) << (15 - p)) ELSE 0 END) AS BIGINT) AS b0,
        |    CAST(sum(CASE WHEN bit = 1 AND p >= 16 AND p < 32 THEN (CAST(1 AS BIGINT) << (31 - p)) ELSE 0 END) AS BIGINT) AS b1,
        |    CAST(sum(CASE WHEN bit = 1 AND p >= 32 AND p < 48 THEN (CAST(1 AS BIGINT) << (47 - p)) ELSE 0 END) AS BIGINT) AS b2,
        |    CAST(sum(CASE WHEN bit = 1 AND p >= 48 THEN (CAST(1 AS BIGINT) << (63 - p)) ELSE 0 END) AS BIGINT) AS b3,
        |    CAST(sum(CASE WHEN bit = 1 AND p < 32 THEN (CAST(1 AS BIGINT) << (31 - p)) ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN bit = 1 AND p >= 32 THEN (CAST(1 AS BIGINT) << (63 - p)) ELSE 0 END) AS BIGINT) AS lo
        |  FROM bits GROUP BY doc_id
        |), cand AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM hashes a JOIN hashes b ON a.b0 = b.b0 AND a.doc_id < b.doc_id
        |  UNION SELECT a.doc_id, b.doc_id FROM hashes a JOIN hashes b ON a.b1 = b.b1 AND a.doc_id < b.doc_id
        |  UNION SELECT a.doc_id, b.doc_id FROM hashes a JOIN hashes b ON a.b2 = b.b2 AND a.doc_id < b.doc_id
        |  UNION SELECT a.doc_id, b.doc_id FROM hashes a JOIN hashes b ON a.b3 = b.b3 AND a.doc_id < b.doc_id
        |)
        |SELECT c.a_id, c.b_id,
        |  CAST(bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) AS INTEGER) AS hamming
        |FROM cand c
        |JOIN hashes ha ON ha.doc_id = c.a_id
        |JOIN hashes hb ON hb.doc_id = c.b_id
        |WHERE bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,
    "x46_pagerank" ->
      """WITH trade AS (
        |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), e AS (
        |  SELECT a AS src, b AS dst FROM trade
        |  UNION SELECT b AS src, a AS dst FROM trade
        |), deg AS (
        |  SELECT src, count(*) AS outdeg FROM e GROUP BY src
        |), n AS (SELECT count(*) AS cnt FROM deg),
        |r0 AS (
        |  SELECT src AS node_id, 1000000000000 // cnt AS rank_units, outdeg
        |  FROM deg, n
        |), r1 AS (
        |  SELECT d.src AS node_id,
        |    (15 * (1000000000000 // n.cnt)) // 100
        |      + (85 * coalesce(c.incoming, 0)) // 100 AS rank_units,
        |    d.outdeg
        |  FROM deg d CROSS JOIN n
        |  LEFT JOIN (
        |    SELECT e.dst, sum(r.rank_units // r.outdeg) AS incoming
        |    FROM r0 r JOIN e ON r.node_id = e.src GROUP BY e.dst
        |  ) c ON d.src = c.dst
        |), r2 AS (
        |  SELECT d.src AS node_id,
        |    (15 * (1000000000000 // n.cnt)) // 100
        |      + (85 * coalesce(c.incoming, 0)) // 100 AS rank_units,
        |    d.outdeg
        |  FROM deg d CROSS JOIN n
        |  LEFT JOIN (
        |    SELECT e.dst, sum(r.rank_units // r.outdeg) AS incoming
        |    FROM r1 r JOIN e ON r.node_id = e.src GROUP BY e.dst
        |  ) c ON d.src = c.dst
        |), r3 AS (
        |  SELECT d.src AS node_id,
        |    (15 * (1000000000000 // n.cnt)) // 100
        |      + (85 * coalesce(c.incoming, 0)) // 100 AS rank_units,
        |    d.outdeg
        |  FROM deg d CROSS JOIN n
        |  LEFT JOIN (
        |    SELECT e.dst, sum(r.rank_units // r.outdeg) AS incoming
        |    FROM r2 r JOIN e ON r.node_id = e.src GROUP BY e.dst
        |  ) c ON d.src = c.dst
        |)
        |-- CAST: the r1/r2/r3 sum(...)-derived arithmetic is HUGEINT in DuckDB,
        |-- which duckdb.df() renders as float64 and fails the driver's hash.
        |SELECT node_id, CAST(rank_units AS BIGINT) AS rank_units
        |FROM r3 ORDER BY node_id""".stripMargin,
    // x49: identical closed form to x29/x32 (BuildPng shares the pixel
    // formula); only the doc subset differs — Spark-side the pixels travel
    // through a real zlib inflate + scanline filter reconstruction instead
    "x49_png_ahash" ->
      """WITH dims AS (
        |  SELECT doc_id, doc_id AS pid,
        |         CAST(16 + doc_id % 16 AS INTEGER) AS w,
        |         CAST(16 + doc_id % 12 AS INTEGER) AS h
        |  FROM documents WHERE doc_id % 3 = 2
        |), xs AS (
        |  SELECT doc_id, pid, w, h, unnest(range(w)) AS x FROM dims
        |), px AS (
        |  SELECT doc_id, pid, w, h, x, unnest(range(h)) AS y FROM xs
        |), lum AS (
        |  SELECT doc_id, (y * 8) // h AS ci, (x * 8) // w AS cj,
        |         (pid * 131 + x * 7 + y * 13) % 256 AS g
        |  FROM px
        |), cells AS (
        |  SELECT doc_id, ci, cj, sum(g) AS cs, count(*) AS cn FROM lum GROUP BY 1, 2, 3
        |), tot AS (
        |  SELECT doc_id, sum(g) AS ts, count(*) AS tn FROM lum GROUP BY 1
        |), bits AS (
        |  SELECT c.doc_id, c.ci * 8 + c.cj AS p,
        |         CASE WHEN c.cs * t.tn >= t.ts * c.cn THEN 1 ELSE 0 END AS bit
        |  FROM cells c JOIN tot t USING (doc_id)
        |)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN bit = 1 AND p < 32 THEN (CAST(1 AS BIGINT) << (31 - p)) ELSE 0 END) AS BIGINT) AS ahash_hi,
        |  CAST(sum(CASE WHEN bit = 1 AND p >= 32 THEN (CAST(1 AS BIGINT) << (63 - p)) ELSE 0 END) AS BIGINT) AS ahash_lo
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // x50: the x29/x32/x49 closed form with BLOCK-constant pixels — the
    // luma depends on (x div 8, y div 8), matching BuildJpeg's DC-only
    // tiles; Spark-side the pixels travel through real baseline-JPEG
    // Huffman decode + IDCT instead
    "x50_jpeg_ahash" ->
      """WITH dims AS (
        |  SELECT doc_id, doc_id AS pid,
        |         CAST(16 + doc_id % 16 AS INTEGER) AS w,
        |         CAST(16 + doc_id % 12 AS INTEGER) AS h
        |  FROM documents WHERE doc_id % 3 = 0
        |), xs AS (
        |  SELECT doc_id, pid, w, h, unnest(range(w)) AS x FROM dims
        |), px AS (
        |  SELECT doc_id, pid, w, h, x, unnest(range(h)) AS y FROM xs
        |), lum AS (
        |  SELECT doc_id, (y * 8) // h AS ci, (x * 8) // w AS cj,
        |         (pid * 131 + (x // 8) * 7 + (y // 8) * 13) % 256 AS g
        |  FROM px
        |), cells AS (
        |  SELECT doc_id, ci, cj, sum(g) AS cs, count(*) AS cn FROM lum GROUP BY 1, 2, 3
        |), tot AS (
        |  SELECT doc_id, sum(g) AS ts, count(*) AS tn FROM lum GROUP BY 1
        |), bits AS (
        |  SELECT c.doc_id, c.ci * 8 + c.cj AS p,
        |         CASE WHEN c.cs * t.tn >= t.ts * c.cn THEN 1 ELSE 0 END AS bit
        |  FROM cells c JOIN tot t USING (doc_id)
        |)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN bit = 1 AND p < 32 THEN (CAST(1 AS BIGINT) << (31 - p)) ELSE 0 END) AS BIGINT) AS ahash_hi,
        |  CAST(sum(CASE WHEN bit = 1 AND p >= 32 THEN (CAST(1 AS BIGINT) << (63 - p)) ELSE 0 END) AS BIGINT) AS ahash_lo
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // x53/x54: the oracle recomputes every metadata field from the doc_id
    // closed form the builder used — a match proves the container walk
    // (box tree / tag skip + frame header) recovered the real values.
    "x53_mp4_meta" ->
      """SELECT doc_id, 'mp4' AS format,
        |  CAST(16 + doc_id % 73 * 2 AS INT) AS width,
        |  CAST(16 + doc_id % 57 * 2 AS INT) AS height,
        |  CAST(1000 + doc_id % 997 * 7 AS INT) AS duration_ms
        |FROM documents WHERE doc_id % 5 = 1 ORDER BY doc_id""".stripMargin,
    "x54_mp3_meta" ->
      """SELECT doc_id, 'mp3' AS format,
        |  CAST(44100 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
        |  -- CBR estimate: bytes*8/kbps ms over (3 + id%29) frames of 417 B
        |  CAST((3 + doc_id % 29) * 417 * 8 // 128 AS INT) AS duration_ms
        |FROM documents WHERE doc_id % 5 = 3 ORDER BY doc_id""".stripMargin,
    // x80: Xing-exact VBR duration — frames * 1152 samples / 44100 Hz in
    // ms; a CBR byte-length estimate cannot produce this closed form on
    // the alternating 417/208-byte payload, so a match proves the tag
    // walk (side-info offset, flags, BE frame count) ran for real.
    "x80_mp3_vbr" ->
      """SELECT doc_id, 'mp3' AS format,
        |  CAST(44100 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
        |  CAST((3 + doc_id % 29) * 1152000 // 44100 AS INT) AS duration_ms
        |FROM documents WHERE doc_id % 5 = 4 ORDER BY doc_id""".stripMargin,
    // x56: x45's pair predicate + recursive-CTE transitive closure;
    // cluster_root = min reachable brand (same contract as x14's closure)
    "x56_fuzzy_clusters" ->
      """WITH RECURSIVE v AS (
        |  SELECT DISTINCT p_brand AS s FROM part
        |  WHERE p_brand IS NOT NULL AND length(p_brand) >= 2
        |), p AS (
        |  SELECT a.s AS a, b.s AS b FROM v a JOIN v b ON a.s < b.s
        |  WHERE levenshtein(a.s, b.s) <= 1
        |), bidir AS (
        |  SELECT a AS src, b AS dst FROM p
        |  UNION SELECT b AS src, a AS dst FROM p
        |), reach AS (
        |  SELECT src, dst FROM bidir
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN bidir e ON r.dst = e.src
        |)
        |SELECT src AS brand, least(src, min(dst)) AS cluster_root
        |FROM reach GROUP BY src ORDER BY brand""".stripMargin,
    // x63: ground truth by triple-joining the canonical a<b edge list
    // (x45's CTE) — each triangle {x<y<z} matches exactly the join
    // (x,y)+(y,z)+(x,z), the SQL mirror of the orientation's
    // pivot-at-minimum exactly-once argument; corners unnested and
    // counted, cc in the engine-standard integer ppm.
    "x63_triangles" ->
      """WITH v AS (
        |  SELECT DISTINCT p_brand AS s FROM part
        |  WHERE p_brand IS NOT NULL AND length(p_brand) >= 2
        |), p AS (
        |  SELECT a.s AS a, b.s AS b FROM v a JOIN v b ON a.s < b.s
        |  WHERE levenshtein(a.s, b.s) <= 1
        |), deg AS (
        |  SELECT node, count(*) AS degree FROM (
        |    SELECT a AS node FROM p UNION ALL SELECT b AS node FROM p
        |  ) GROUP BY node
        |), tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM p e1 JOIN p e2 ON e2.a = e1.b JOIN p e3 ON e3.a = e1.a AND e3.b = e2.b
        |), corners AS (
        |  SELECT unnest([x, y, z]) AS node FROM tri
        |), tc AS (
        |  SELECT node, count(*) AS nt FROM corners GROUP BY node
        |)
        |SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
        |  CAST(coalesce(tc.nt, 0) AS BIGINT) AS n_triangles,
        |  CASE WHEN d.degree >= 2
        |       THEN CAST(2 * coalesce(tc.nt, 0) * 1000000 // (d.degree * (d.degree - 1)) AS BIGINT)
        |  END AS cc_ppm
        |FROM deg d LEFT JOIN tc USING (node) ORDER BY d.node""".stripMargin,
    // x76: brute-force ordered-pair containment over documents + planted
    // 12-token excerpts (ids +20000); C(A,B) = |∩|/|S(A)|, 6-dp rounded,
    // threshold 0.6. No df prune replay needed: no shingle approaches
    // maxDf=1000 at gate sizes, so kept-space ≡ full-space containment.
    // x76's oracle is the same inverted-index posture as invJaccardPairsSql
    // but DIRECTED (containment |A∩B|/|A| over a ≠ b, fragments included in
    // the base), so it keeps its own CTE chain: containment ≥ 0.6 > 0 still
    // requires a shared shingle, so the equi-join miner is lossless.
    "x76_containment" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000, array_to_string(ts[1:12], ' ')
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents)
        |  WHERE len(ts) >= 24
        |), sh AS (
        |  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |                                for i in range(1, len(t) - 1)]) AS sh
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM base)
        |  WHERE len(t) >= 3
        |), csz AS (
        |  SELECT doc_id, len(sh) AS sz FROM sh
        |), cinv AS (
        |  SELECT doc_id, unnest(sh) AS g FROM sh
        |), ccand AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |  FROM cinv a JOIN cinv b ON a.g = b.g AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT a_id, b_id, round(inter * 1.0 / sa.sz, 6) AS cont
        |FROM ccand JOIN csz sa ON sa.doc_id = a_id
        |WHERE round(inter * 1.0 / sa.sz, 6) >= 0.6
        |ORDER BY a_id, b_id""".stripMargin,
    // x77: the x45 brand graph, then lpaRounds unrolled synchronous
    // plurality rounds (count → row_number argmax per node).
    "x77_label_prop" ->
      s"""WITH v AS (SELECT DISTINCT p_brand AS s FROM part
        |           WHERE p_brand IS NOT NULL AND length(p_brand) >= 2),
        |e0 AS (
        |  SELECT a.s AS a, b.s AS b FROM v a JOIN v b ON a.s < b.s
        |  WHERE levenshtein(a.s, b.s) <= 1
        |), bidir AS (
        |  SELECT a AS src, b AS dst FROM e0 UNION SELECT b AS src, a AS dst FROM e0
        |), l0 AS (
        |  SELECT DISTINCT src AS id, src AS label FROM bidir
        |), ${(1 to lpaRounds).map(lpaIterSql).mkString(", ")}
        |SELECT id AS node, label FROM l$lpaRounds ORDER BY node""".stripMargin,
    // x78: closed-form round-2 unnormalized HITS on the directed trade
    // graph — auth(s) = Σ_{c→s} outdeg(c), hub(c) = Σ_{c→s} indeg(s);
    // pure sources/sinks keep 0 via the left joins. BIGINT casts per the
    // HUGEINT lesson.
    "x78_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), n AS (
        |  SELECT DISTINCT node FROM
        |    (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)
        |), od AS (SELECT src, count(*) AS d FROM e GROUP BY src
        |), idg AS (SELECT dst, count(*) AS d FROM e GROUP BY dst
        |), a2 AS (
        |  SELECT e.dst AS node, CAST(sum(od.d) AS BIGINT) AS auth
        |  FROM e JOIN od ON e.src = od.src GROUP BY e.dst
        |), h2 AS (
        |  SELECT e.src AS node, CAST(sum(idg.d) AS BIGINT) AS hub
        |  FROM e JOIN idg ON e.dst = idg.dst GROUP BY e.src
        |)
        |SELECT n.node, CAST(coalesce(h2.hub, 0) AS BIGINT) AS hub,
        |  CAST(coalesce(a2.auth, 0) AS BIGINT) AS auth
        |FROM n LEFT JOIN h2 ON n.node = h2.node LEFT JOIN a2 ON n.node = a2.node
        |ORDER BY n.node""".stripMargin,
    // x86: the same 2-day window, per-user row_number order, and three
    // chained min-after-previous-step aggregations; missed steps poison
    // the rest through the NULL join, positions sentinel to -1.
    "x86_funnel" ->
      """WITH ex AS (
        |  SELECT user_id, event_type,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts), event_id) AS BIGINT) AS pos
        |  FROM events WHERE epoch_us(ts) < 1704067200000000 + 2 * 86400000000
        |), s1 AS (
        |  SELECT user_id, min(pos) AS p1 FROM ex WHERE event_type = 'signup' GROUP BY user_id
        |), s2 AS (
        |  SELECT ex.user_id, min(pos) AS p2 FROM ex JOIN s1 USING (user_id)
        |  WHERE event_type = 'purchase' AND pos > p1 GROUP BY ex.user_id
        |), s3 AS (
        |  SELECT ex.user_id, min(pos) AS p3 FROM ex JOIN s2 USING (user_id)
        |  WHERE event_type = 'error' AND pos > p2 GROUP BY ex.user_id
        |), u AS (
        |  SELECT DISTINCT user_id FROM ex
        |)
        |SELECT u.user_id,
        |  CAST(CASE WHEN p1 IS NULL THEN 0 WHEN p2 IS NULL THEN 1
        |            WHEN p3 IS NULL THEN 2 ELSE 3 END AS BIGINT) AS stage,
        |  CAST(coalesce(p1, -1) AS BIGINT) AS pos_1,
        |  CAST(coalesce(p2, -1) AS BIGINT) AS pos_2,
        |  CAST(coalesce(p3, -1) AS BIGINT) AS pos_3
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)
        |ORDER BY u.user_id""".stripMargin,
    // x88: the x17 session CTE (lag-gap flag + running sum), then
    // string_agg ordered within each session and a path-count top-20.
    "x88_session_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events
        |), flagged AS (
        |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |                   OR ts_us - lag(ts_us) OVER w > 21600000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |), sess AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |), p AS (
        |  SELECT user_id, sid,
        |    string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
        |  FROM sess GROUP BY user_id, sid
        |)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    // x89: sampled-frame checksums recomputed from the (w, h, f) closed
    // form - RIFF walk arithmetic cannot be faked by metadata alone.
    "x89_avi_frames" ->
      """WITH par AS (
        |  SELECT doc_id, 8 + doc_id % 23 AS w, 8 + doc_id % 19 AS h,
        |         2 + doc_id % 9 AS nf
        |  FROM documents WHERE doc_id % 7 = 1
        |), fr AS (
        |  SELECT doc_id, w, h, unnest(range(nf)) AS f FROM par
        |)
        |SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |  CAST(list_sum([((w*31 + h*17 + f*7 + i*13) % 256) * (i + 1)
        |                 for i in range(0, 24)]) AS BIGINT) AS checksum
        |FROM fr WHERE f % 2 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // x90: expected visible/main text rebuilt from (doc_id, text) alone -
    // the planted-page closed form (BuildHtml's scaladoc): blocks are
    // [nav item {id} | more links here | Heading {id}! | norm(text) see
    // ref {id} | about & terms], densities [1, 1, 0, data-dependent,
    // >=0.5]. norm() collapses runs of whitespace because the extractor
    // does. Block 4's density is computed, not assumed small: link chars
    // = len('ref '||id)+1 (the space before the anchor inherits
    // link-ness), total = len(t)+9+len(id) (or 8+len(id) when t is
    // empty, where the leading space collapses away), so the strict
    // <0.5 keep reduces to len(t) > 1+len(id) - a short/empty document
    // drops block 4 (n_dropped=4) on BOTH sides instead of diverging.
    "x90_html_extract" ->
      """WITH nrm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g')) AS t
        |  FROM documents WHERE doc_id % 3 = 1
        |), b AS (
        |  SELECT doc_id,
        |    CASE WHEN t = '' THEN 'see ref ' || doc_id
        |         ELSE t || ' see ref ' || doc_id END AS block4,
        |    length(t) > 1 + length(CAST(doc_id AS VARCHAR)) AS keep4
        |  FROM nrm
        |)
        |SELECT doc_id,
        |  'nav item ' || doc_id || ' more links here Heading ' || doc_id
        |    || '! ' || block4 || ' about & terms' AS full_text,
        |  'Heading ' || doc_id || '!'
        |    || CASE WHEN keep4 THEN ' ' || block4 ELSE '' END AS main_text,
        |  CAST(5 AS INT) AS n_blocks,
        |  CAST(CASE WHEN keep4 THEN 3 ELSE 4 END AS INT) AS n_dropped
        |FROM b ORDER BY doc_id""".stripMargin,
    // x92: the full WARC byte layout replayed from (doc_id, text) alone -
    // the exact page string (BuildHtml's template, esc = &/</> entity
    // escape), its byte length (= Content-Length), every header string,
    // and therefore each record's byte offset: warcinfo record size +
    // i preceding resource records. main_text reuses the x90 closed form
    // (block-4 density cut included). strlen() is DuckDB's BYTE length,
    // matching the UTF-8 byte arithmetic of the Scala walk.
    "x92_warc_records" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(doc_id AS VARCHAR) AS ids,
        |    1 + doc_id % 3 AS nrec,
        |    trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g')) AS t
        |  FROM documents WHERE doc_id % 5 = 2
        |), h AS (
        |  SELECT *,
        |    '<!DOCTYPE html>' || chr(10) || '<html>' || chr(10) || '<head>' || chr(10)
        |    || '<title>Doc ' || ids || '</title>' || chr(10)
        |    || '<meta charset="utf-8">' || chr(10)
        |    || '<script type="text/javascript">var n = ' || ids
        |    || '; if (n < 100) { document.x = "<p>not text</p>"; }</script>' || chr(10)
        |    || '<style>.m' || (doc_id % 7) || ' { color: #fff; }</style>' || chr(10)
        |    || '</head>' || chr(10) || '<body>' || chr(10) || '<nav><ul>' || chr(10)
        |    || '<li><a href="/p/' || ids || '">nav item ' || ids || '</a></li>' || chr(10)
        |    || '<li><a href="/q/' || (doc_id % 13) || '">more links here</a></li>' || chr(10)
        |    || '</ul></nav>' || chr(10)
        |    || '<!-- boilerplate ends <p>ghost paragraph</p> -->' || chr(10)
        |    || '<div class="main">' || chr(10)
        |    || '<h1>Heading ' || ids || '&#33;</h1>' || chr(10)
        |    || '<p>' || replace(replace(replace(text, '&', '&amp;'),
        |                                '<', '&lt;'), '>', '&gt;')
        |    || ' see <a href="/ref/' || ids || '">ref ' || ids || '</a></p>' || chr(10)
        |    || '</div>' || chr(10)
        |    || '<footer><a href="/about">about</a> &amp; <a href="/tos">terms</a></footer>' || chr(10)
        |    || '</body>' || chr(10) || '</html>' || chr(10) AS html
        |  FROM d
        |), sz AS (
        |  SELECT doc_id, ids, nrec, t, strlen(html) AS clen,
        |    strlen('WARC/1.0' || e'\r\n'
        |      || 'WARC-Type: warcinfo' || e'\r\n'
        |      || 'WARC-Record-ID: <urn:graft:' || ids || ':info>' || e'\r\n'
        |      || 'WARC-Date: 2020-01-01T00:00:00Z' || e'\r\n'
        |      || 'Content-Type: application/warc-fields' || e'\r\n'
        |      || 'Content-Length: 17' || e'\r\n' || e'\r\n') + 17 + 4 AS isize
        |  FROM h
        |), recs AS (
        |  SELECT doc_id, ids, t, clen, isize, unnest(range(nrec)) AS i FROM sz
        |), sized AS (
        |  SELECT *,
        |    strlen('WARC/1.0' || e'\r\n'
        |      || 'WARC-Type: resource' || e'\r\n'
        |      || 'WARC-Record-ID: <urn:graft:' || ids || ':' || i || '>' || e'\r\n'
        |      || 'WARC-Target-URI: http://example.com/doc/' || ids || '/' || i || e'\r\n'
        |      || 'WARC-Date: 2020-01-01T00:00:0' || i || 'Z' || e'\r\n'
        |      || 'Content-Type: text/html' || e'\r\n'
        |      || 'Content-Length: ' || clen || e'\r\n' || e'\r\n') + clen + 4 AS rsize
        |  FROM recs
        |), off AS (
        |  SELECT *,
        |    isize + coalesce(sum(rsize) OVER (
        |      PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rec_offset
        |  FROM sized
        |), b AS (
        |  SELECT *,
        |    CASE WHEN t = '' THEN 'see ref ' || ids
        |         ELSE t || ' see ref ' || ids END AS block4,
        |    length(t) > 1 + length(ids) AS keep4
        |  FROM off
        |)
        |SELECT doc_id, CAST(i AS INT) AS rec_idx,
        |  'http://example.com/doc/' || ids || '/' || i AS target_uri,
        |  '2020-01-01T00:00:0' || i || 'Z' AS rec_date,
        |  CAST(rec_offset AS BIGINT) AS rec_offset,
        |  CAST(clen AS INT) AS content_length,
        |  'Heading ' || ids || '!'
        |    || CASE WHEN keep4 THEN ' ' || block4 ELSE '' END AS main_text
        |FROM b ORDER BY doc_id, rec_idx""".stripMargin,
    // x93: the planted page carries exactly five anchors in closed form
    // (document order): nav /p/{id}, hub /q/{id%13}, inline /ref/{id},
    // footer /about and /tos. unnest + generate_subscripts zip in DuckDB,
    // giving (value, position) pairs.
    "x93_html_links" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    ['/p/' || doc_id, '/q/' || (doc_id % 13), '/ref/' || doc_id,
        |     '/about', '/tos'] AS l
        |  FROM documents WHERE doc_id % 4 = 3
        |)
        |SELECT doc_id,
        |  CAST(generate_subscripts(l, 1) - 1 AS INT) AS link_idx,
        |  unnest(l) AS href
        |FROM d ORDER BY doc_id, link_idx""".stripMargin,
    // x94: closed-form web edges (doc*2 <-> (doc%13)*2+1 from the
    // extracted hub anchor), then the x46 integer-PageRank recurrence
    // unrolled 3 rounds - same tele/damping arithmetic, same HUGEINT cast.
    "x94_web_pagerank" ->
      """WITH docs AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 2 = 0
        |), base AS (
        |  SELECT DISTINCT doc_id * 2 AS a, (doc_id % 13) * 2 + 1 AS b FROM docs
        |), e AS (
        |  SELECT a AS src, b AS dst FROM base
        |  UNION SELECT b AS src, a AS dst FROM base
        |), deg AS (
        |  SELECT src, count(*) AS outdeg FROM e GROUP BY src
        |), n AS (SELECT count(*) AS cnt FROM deg),
        |r0 AS (
        |  SELECT src AS node_id, 1000000000000 // cnt AS rank_units, outdeg
        |  FROM deg, n
        |), r1 AS (
        |  SELECT d.src AS node_id,
        |    (15 * (1000000000000 // n.cnt)) // 100
        |      + (85 * coalesce(c.incoming, 0)) // 100 AS rank_units,
        |    d.outdeg
        |  FROM deg d CROSS JOIN n
        |  LEFT JOIN (
        |    SELECT e.dst, sum(r.rank_units // r.outdeg) AS incoming
        |    FROM r0 r JOIN e ON r.node_id = e.src GROUP BY e.dst
        |  ) c ON d.src = c.dst
        |), r2 AS (
        |  SELECT d.src AS node_id,
        |    (15 * (1000000000000 // n.cnt)) // 100
        |      + (85 * coalesce(c.incoming, 0)) // 100 AS rank_units,
        |    d.outdeg
        |  FROM deg d CROSS JOIN n
        |  LEFT JOIN (
        |    SELECT e.dst, sum(r.rank_units // r.outdeg) AS incoming
        |    FROM r1 r JOIN e ON r.node_id = e.src GROUP BY e.dst
        |  ) c ON d.src = c.dst
        |), r3 AS (
        |  SELECT d.src AS node_id,
        |    (15 * (1000000000000 // n.cnt)) // 100
        |      + (85 * coalesce(c.incoming, 0)) // 100 AS rank_units,
        |    d.outdeg
        |  FROM deg d CROSS JOIN n
        |  LEFT JOIN (
        |    SELECT e.dst, sum(r.rank_units // r.outdeg) AS incoming
        |    FROM r2 r JOIN e ON r.node_id = e.src GROUP BY e.dst
        |  ) c ON d.src = c.dst
        |)
        |SELECT node_id, CAST(rank_units AS BIGINT) AS rank_units
        |FROM r3 ORDER BY node_id""".stripMargin,
    // x99: the RFC 9309 decision matrix in closed form. graftbot obeys
    // the merged graftbot/otherbot group (only /q/ rules: case 4 denied,
    // case 5 saved by the longer Allow); every other agent obeys the *
    // group (case 2 denied by the prefix rule, case 3 by the /*.tmp$
    // wildcard-anchor, case 1 saved by the longer Allow override).
    "x99_robots" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id AS VARCHAR) AS ids,
        |    CAST(doc_id % 5 AS VARCHAR) AS k, doc_id % 2 = 0 AS g
        |  FROM documents WHERE doc_id % 6 = 4
        |), c AS (
        |  SELECT doc_id, ids, k, g, unnest(range(6)) AS ci FROM d
        |)
        |SELECT doc_id, CAST(ci AS INT) AS case_idx,
        |  CASE ci WHEN 0 THEN '/a' || ids || '/x'
        |          WHEN 1 THEN '/private' || k || '/ok/f'
        |          WHEN 2 THEN '/private' || k || '/secret'
        |          WHEN 3 THEN '/f' || ids || '.tmp'
        |          WHEN 4 THEN '/q/page'
        |          ELSE '/q/open' || ids END AS path,
        |  CASE WHEN g THEN 'graftbot/1.0' ELSE 'randombot' END AS agent,
        |  CASE WHEN g THEN ci <> 4 ELSE ci NOT IN (2, 3) END AS allowed
        |FROM c ORDER BY doc_id, case_idx""".stripMargin,
    // x98: the CDX triple re-derived in closed form - SURT key from the
    // known URI shape, offsets via the x92 prefix-sum, record length =
    // header + payload + separator bytes. A match proves MEASURED
    // offsets and lengths agree with the byte layout.
    "x98_cdx_index" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(doc_id AS VARCHAR) AS ids,
        |    1 + doc_id % 3 AS nrec
        |  FROM documents WHERE doc_id % 5 = 2
        |), h AS (
        |  SELECT *,
        |    '<!DOCTYPE html>' || chr(10) || '<html>' || chr(10) || '<head>' || chr(10)
        |    || '<title>Doc ' || ids || '</title>' || chr(10)
        |    || '<meta charset="utf-8">' || chr(10)
        |    || '<script type="text/javascript">var n = ' || ids
        |    || '; if (n < 100) { document.x = "<p>not text</p>"; }</script>' || chr(10)
        |    || '<style>.m' || (doc_id % 7) || ' { color: #fff; }</style>' || chr(10)
        |    || '</head>' || chr(10) || '<body>' || chr(10) || '<nav><ul>' || chr(10)
        |    || '<li><a href="/p/' || ids || '">nav item ' || ids || '</a></li>' || chr(10)
        |    || '<li><a href="/q/' || (doc_id % 13) || '">more links here</a></li>' || chr(10)
        |    || '</ul></nav>' || chr(10)
        |    || '<!-- boilerplate ends <p>ghost paragraph</p> -->' || chr(10)
        |    || '<div class="main">' || chr(10)
        |    || '<h1>Heading ' || ids || '&#33;</h1>' || chr(10)
        |    || '<p>' || replace(replace(replace(text, '&', '&amp;'),
        |                                '<', '&lt;'), '>', '&gt;')
        |    || ' see <a href="/ref/' || ids || '">ref ' || ids || '</a></p>' || chr(10)
        |    || '</div>' || chr(10)
        |    || '<footer><a href="/about">about</a> &amp; <a href="/tos">terms</a></footer>' || chr(10)
        |    || '</body>' || chr(10) || '</html>' || chr(10) AS html
        |  FROM d
        |), sz AS (
        |  SELECT doc_id, ids, nrec, strlen(html) AS clen,
        |    strlen('WARC/1.0' || e'\r\n'
        |      || 'WARC-Type: warcinfo' || e'\r\n'
        |      || 'WARC-Record-ID: <urn:graft:' || ids || ':info>' || e'\r\n'
        |      || 'WARC-Date: 2020-01-01T00:00:00Z' || e'\r\n'
        |      || 'Content-Type: application/warc-fields' || e'\r\n'
        |      || 'Content-Length: 17' || e'\r\n' || e'\r\n') + 17 + 4 AS isize
        |  FROM h
        |), recs AS (
        |  SELECT doc_id, ids, clen, isize, unnest(range(nrec)) AS i FROM sz
        |), sized AS (
        |  SELECT *,
        |    strlen('WARC/1.0' || e'\r\n'
        |      || 'WARC-Type: resource' || e'\r\n'
        |      || 'WARC-Record-ID: <urn:graft:' || ids || ':' || i || '>' || e'\r\n'
        |      || 'WARC-Target-URI: http://example.com/doc/' || ids || '/' || i || e'\r\n'
        |      || 'WARC-Date: 2020-01-01T00:00:0' || i || 'Z' || e'\r\n'
        |      || 'Content-Type: text/html' || e'\r\n'
        |      || 'Content-Length: ' || clen || e'\r\n' || e'\r\n') + clen + 4 AS rsize
        |  FROM recs
        |), off AS (
        |  SELECT *,
        |    isize + coalesce(sum(rsize) OVER (
        |      PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rec_offset
        |  FROM sized
        |)
        |SELECT doc_id, CAST(i AS INT) AS rec_idx,
        |  'com,example)/doc/' || ids || '/' || i AS surt_key,
        |  CAST(rec_offset AS BIGINT) AS rec_offset,
        |  CAST(rsize AS BIGINT) AS rec_len
        |FROM off ORDER BY doc_id, rec_idx""".stripMargin,
    // x97: x92's closed form minus byte offsets (compressed member sizes
    // are not closed-form): uri/date/Content-Length/main_text per
    // resource record of the %7=3 subset - proving member split +
    // inflate + CRC verify + record walk + extraction end-to-end.
    "x97_warc_gz" ->
      """WITH d AS (
        |  SELECT doc_id, text, CAST(doc_id AS VARCHAR) AS ids,
        |    1 + doc_id % 3 AS nrec,
        |    trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g')) AS t
        |  FROM documents WHERE doc_id % 7 = 3
        |), h AS (
        |  SELECT *,
        |    '<!DOCTYPE html>' || chr(10) || '<html>' || chr(10) || '<head>' || chr(10)
        |    || '<title>Doc ' || ids || '</title>' || chr(10)
        |    || '<meta charset="utf-8">' || chr(10)
        |    || '<script type="text/javascript">var n = ' || ids
        |    || '; if (n < 100) { document.x = "<p>not text</p>"; }</script>' || chr(10)
        |    || '<style>.m' || (doc_id % 7) || ' { color: #fff; }</style>' || chr(10)
        |    || '</head>' || chr(10) || '<body>' || chr(10) || '<nav><ul>' || chr(10)
        |    || '<li><a href="/p/' || ids || '">nav item ' || ids || '</a></li>' || chr(10)
        |    || '<li><a href="/q/' || (doc_id % 13) || '">more links here</a></li>' || chr(10)
        |    || '</ul></nav>' || chr(10)
        |    || '<!-- boilerplate ends <p>ghost paragraph</p> -->' || chr(10)
        |    || '<div class="main">' || chr(10)
        |    || '<h1>Heading ' || ids || '&#33;</h1>' || chr(10)
        |    || '<p>' || replace(replace(replace(text, '&', '&amp;'),
        |                                '<', '&lt;'), '>', '&gt;')
        |    || ' see <a href="/ref/' || ids || '">ref ' || ids || '</a></p>' || chr(10)
        |    || '</div>' || chr(10)
        |    || '<footer><a href="/about">about</a> &amp; <a href="/tos">terms</a></footer>' || chr(10)
        |    || '</body>' || chr(10) || '</html>' || chr(10) AS html
        |  FROM d
        |), recs AS (
        |  SELECT doc_id, ids, t, strlen(html) AS clen,
        |    unnest(range(nrec)) AS i
        |  FROM h
        |), b AS (
        |  SELECT *,
        |    CASE WHEN t = '' THEN 'see ref ' || ids
        |         ELSE t || ' see ref ' || ids END AS block4,
        |    length(t) > 1 + length(ids) AS keep4
        |  FROM recs
        |)
        |SELECT doc_id, CAST(i AS INT) AS rec_idx,
        |  'http://example.com/doc/' || ids || '/' || i AS target_uri,
        |  '2020-01-01T00:00:0' || i || 'Z' AS rec_date,
        |  CAST(clen AS INT) AS content_length,
        |  'Heading ' || ids || '!'
        |    || CASE WHEN keep4 THEN ' ' || block4 ELSE '' END AS main_text
        |FROM b ORDER BY doc_id, rec_idx""".stripMargin,
    // x95: the expected canonical form per id, stated in closed form -
    // scheme/host lowered, :80 dropped / :8443 kept, %41->A and %7e->~
    // decoded (unreserved), %2f kept but hex-uppercased (reserved),
    // /./ and /../ removed with // preserved, fragment dropped.
    "x95_url_normalize" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id AS VARCHAR) AS ids,
        |    CAST(doc_id % 5 AS VARCHAR) AS k
        |  FROM documents WHERE doc_id % 3 = 2
        |)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN 'http://example' || k || '.com/a' || ids || '/pAth/' || ids
        |         || '?b=2&a=%2F'
        |    ELSE 'https://sub.example' || k || '.com:8443/~user//' || ids || '/'
        |  END AS norm_url,
        |  CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END AS scheme,
        |  CASE WHEN doc_id % 2 = 0 THEN 'example' || k || '.com'
        |       ELSE 'sub.example' || k || '.com' END AS host,
        |  CASE WHEN doc_id % 2 = 0 THEN '/a' || ids || '/pAth/' || ids
        |       ELSE '/~user//' || ids || '/' END AS path
        |FROM d ORDER BY doc_id""".stripMargin,
    // x82: replay the capped one-mode projection — distinct incidence,
    // degree ≤ 40 keep, part-keyed self-join a<b, shared ≥ 2.
    "x82_cooccurrence" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), deg AS (
        |  SELECT p, count(*) AS d FROM e GROUP BY p
        |), kept AS (
        |  SELECT c, e.p FROM e JOIN deg ON e.p = deg.p WHERE d <= 40
        |)
        |SELECT a.c AS a_id, b.c AS b_id, CAST(count(*) AS BIGINT) AS shared
        |FROM kept a JOIN kept b ON a.p = b.p AND a.c < b.c
        |GROUP BY a.c, b.c HAVING count(*) >= 2
        |ORDER BY a_id, b_id""".stripMargin,
    // x85: lag() inside each user's (ts_us, event_id) order, pair counts,
    // departure ppm by exact integer division.
    "x85_transitions" ->
      """WITH ex AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
        |), o AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      AS prev_state
        |  FROM ex
        |), c AS (
        |  SELECT prev_state, event_type AS next_state, CAST(count(*) AS BIGINT) AS n
        |  FROM o WHERE prev_state IS NOT NULL GROUP BY prev_state, event_type
        |), t AS (
        |  SELECT prev_state, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY prev_state
        |)
        |SELECT c.prev_state, c.next_state, c.n,
        |  CAST(c.n * 1000000 // t.tot AS BIGINT) AS p_ppm
        |FROM c JOIN t ON c.prev_state = t.prev_state
        |ORDER BY c.prev_state, c.next_state""".stripMargin,
    // x69: closed-form AVI metadata (the x53 contract): dims are the
    // BuildAvi inputs, duration = frames · 40 ms at the fixed 25 fps.
    "x69_avi_meta" ->
      """SELECT doc_id, 'avi' AS format,
        |  CAST(32 + doc_id % 61 * 2 AS INT) AS width,
        |  CAST(24 + doc_id % 47 * 2 AS INT) AS height,
        |  CAST((10 + doc_id % 241) * 40 AS INT) AS duration_ms
        |FROM documents WHERE doc_id % 5 = 2 ORDER BY doc_id""".stripMargin,
    // x72: recursive-CTE BFS over the same 12-node chains; UNION dedups
    // (node, d) pairs and the d-cap bounds the recursion; min(d) per node
    // is the hop distance, unreachable nodes keep NULL via the left join
    // onto the edge-derived node universe.
    "x72_seed_distance" ->
      """WITH RECURSIVE ids AS (
        |  SELECT doc_id FROM documents
        |), e AS (
        |  SELECT a.doc_id AS src, a.doc_id + 1 AS dst
        |  FROM ids a JOIN ids b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 12 <> 11
        |), bidir AS (
        |  SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e
        |), nodes AS (
        |  -- node universe = graph nodes UNION the seed set, mirroring the
        |  -- operator's full_outer join of settled seeds into the output: a
        |  -- seed with no incident edge (possible at the corpus's max doc_id
        |  -- when it opens an even chain) still emits a dist-0 row. Explicit
        |  -- outer DISTINCT, not bare UNION: inside WITH RECURSIVE DuckDB
        |  -- compiles this union without the dedup (measured: 521 vs 500)
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM bidir
        |    UNION ALL
        |    SELECT doc_id AS node FROM ids
        |    WHERE doc_id % 12 = 0 AND (doc_id // 12) % 2 = 0)
        |), walk AS (
        |  SELECT doc_id AS node, 0 AS d FROM ids
        |  WHERE doc_id % 12 = 0 AND (doc_id // 12) % 2 = 0
        |  UNION
        |  SELECT b.dst AS node, w.d + 1 AS d
        |  FROM walk w JOIN bidir b ON w.node = b.src WHERE w.d < 40
        |), dist AS (
        |  SELECT node, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY node
        |)
        |SELECT nodes.node, CAST(coalesce(dist, -1) AS BIGINT) AS dist
        |FROM nodes LEFT JOIN dist USING (node) ORDER BY node""".stripMargin
  )
}
