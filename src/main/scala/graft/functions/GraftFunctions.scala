package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Column-API + SQL facade for graft's custom Catalyst expressions.
  *
  * Registration is per-session and idempotent; the Column helpers route
  * through `call_function`, so they work on any session that has called
  * [[register]] (including the driver's Verify/Bench sessions).
  */
object GraftFunctions {

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "minhash_sig",
      exprs =>
        MinHashSignature(
          exprs(0),
          exprs(1).eval(null).asInstanceOf[Int]
        ),
      "built-in")
    reg.createOrReplaceTempFunction(
      "simhash64", exprs => SimHash64(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "simhash_md5_bands", exprs => SimHashMd5Bands(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "minhash_bands",
      exprs =>
        MinHashBands(
          exprs(0),
          exprs(1).eval(null).asInstanceOf[Int],
          exprs(2).eval(null).asInstanceOf[Int]
        ),
      "built-in")
    reg.createOrReplaceTempFunction(
      "byte_histogram", exprs => ByteHistogram(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "nfc_normalize", exprs => NfcNormalize(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "vector_avg", exprs => VectorAvg(exprs(0)).toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction(
      "vector_min_max", exprs => VectorMinMax(exprs(0)).toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction(
      "int_gram", exprs => IntGram(exprs(0)).toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction(
      "misra_gries_tokens",
      exprs =>
        MisraGriesTokens(exprs(0), exprs(1).eval(null).asInstanceOf[Int])
          .toAggregateExpression(),
      "built-in")
    reg.createOrReplaceTempFunction(
      "kmv_mins",
      exprs =>
        KmvMins(exprs(0), exprs(1).eval(null).asInstanceOf[Int])
          .toAggregateExpression(),
      "built-in")
    reg.createOrReplaceTempFunction(
      "count_min_tokens",
      exprs =>
        CountMinTokens(
          exprs(0),
          exprs(1).eval(null).asInstanceOf[Int],
          exprs(2).eval(null).asInstanceOf[Int]
        ).toAggregateExpression(),
      "built-in")
    reg.createOrReplaceTempFunction(
      "hll_registers",
      exprs => HllRegisters(exprs(0)).toAggregateExpression(),
      "built-in")
    reg.createOrReplaceTempFunction(
      "decode_media_meta", exprs => DecodeMediaMeta(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "image_ahash", exprs => ImageAHash(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "repetition_counts", exprs => RepetitionCounts(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "char_run_entropy_sums", exprs => CharRunEntropySums(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "build_bmp", exprs => BuildBmp(exprs(0), exprs(1), exprs(2)), "built-in")
    reg.createOrReplaceTempFunction(
      "build_gif", exprs => BuildGif(exprs(0), exprs(1), exprs(2)), "built-in")
    reg.createOrReplaceTempFunction(
      "build_png", exprs => BuildPng(exprs(0), exprs(1), exprs(2)), "built-in")
    reg.createOrReplaceTempFunction(
      "build_jpeg", exprs => BuildJpeg(exprs(0), exprs(1), exprs(2)), "built-in")
    reg.createOrReplaceTempFunction(
      "build_anim_gif",
      exprs => BuildAnimGif(exprs(0), exprs(1), exprs(2), exprs(3)), "built-in")
    reg.createOrReplaceTempFunction(
      "gif_frame_hashes", exprs => GifFrameHashes(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "resize_bmp", exprs => ResizeBmp(exprs(0), exprs(1), exprs(2)), "built-in")
    reg.createOrReplaceTempFunction(
      "build_wav", exprs => BuildWav(exprs(0), exprs(1), exprs(2)), "built-in")
    reg.createOrReplaceTempFunction(
      "build_mp4", exprs => BuildMp4(exprs(0), exprs(1), exprs(2)), "built-in")
    reg.createOrReplaceTempFunction(
      "build_mp3", exprs => BuildMp3(exprs(0), exprs(1), exprs(2)), "built-in")
    reg.createOrReplaceTempFunction(
      "build_mp3_vbr", exprs => BuildMp3Vbr(exprs(0), exprs(1), exprs(2)), "built-in")
    reg.createOrReplaceTempFunction(
      "build_avi", exprs => BuildAvi(exprs(0), exprs(1), exprs(2)), "built-in")
    reg.createOrReplaceTempFunction(
      "build_avi_frames",
      exprs => BuildAviFrames(exprs(0), exprs(1), exprs(2)), "built-in")
    reg.createOrReplaceTempFunction(
      "avi_frame_checksums",
      exprs => AviFrameChecksums(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "int_lsh_buckets",
      exprs =>
        IntLshBuckets(
          exprs(0),
          exprs(1).eval(null).asInstanceOf[Int],
          exprs(2).eval(null).asInstanceOf[Int]),
      "built-in")
    reg.createOrReplaceTempFunction(
      "int_pq_codes",
      exprs =>
        IntPqCodes(
          exprs(0),
          exprs(1).eval(null).asInstanceOf[Int],
          exprs(2).eval(null).asInstanceOf[Int],
          exprs(3).eval(null)
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toLongArray().toSeq,
          exprs(4).eval(null)
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toLongArray().toSeq),
      "built-in")
    reg.createOrReplaceTempFunction(
      "int_pq_dist",
      exprs =>
        IntPqDist(
          exprs(0),
          exprs(1),
          exprs(2).eval(null).asInstanceOf[Int],
          exprs(3).eval(null).asInstanceOf[Int],
          exprs(4).eval(null)
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toLongArray().toSeq,
          exprs(5).eval(null)
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toLongArray().toSeq),
      "built-in")
    reg.createOrReplaceTempFunction(
      "pq_train_sums",
      exprs =>
        PqTrainSums(
          exprs(0),
          exprs(1).eval(null)
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toDoubleArray().toSeq,
          exprs(2).eval(null).asInstanceOf[Int],
          exprs(3).eval(null).asInstanceOf[Int]).toAggregateExpression(),
      "built-in")
    reg.createOrReplaceTempFunction(
      "pq_assign",
      exprs =>
        PqAssign(
          exprs(0),
          exprs(1).eval(null)
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toDoubleArray().toSeq,
          exprs(2).eval(null).asInstanceOf[Int],
          exprs(3).eval(null).asInstanceOf[Int]),
      "built-in")
    reg.createOrReplaceTempFunction(
      "pq_adc",
      exprs =>
        PqAdc(
          exprs(0),
          exprs(1),
          exprs(2).eval(null)
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toDoubleArray().toSeq,
          exprs(3).eval(null).asInstanceOf[Int],
          exprs(4).eval(null).asInstanceOf[Int]),
      "built-in")
    reg.createOrReplaceTempFunction(
      "build_tar", exprs => BuildTar(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "tar_entries", exprs => TarEntries(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "build_html", exprs => BuildHtml(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "html_extract", exprs => HtmlExtract(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "build_warc", exprs => BuildWarc(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "warc_records", exprs => WarcRecords(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "build_media_warc", exprs => BuildMediaWarc(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "media_warc_records", exprs => MediaWarcRecords(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "html_links", exprs => HtmlLinks(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "html_anchors", exprs => HtmlAnchors(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "build_sitemap", exprs => BuildSitemap(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "sitemap_urls", exprs => SitemapUrls(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "script_counts", exprs => ScriptCounts(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "url_normalize", exprs => UrlNormalize(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "build_warc_gz", exprs => BuildWarcGz(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "gzip_members", exprs => GzipMembers(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "robots_allowed",
      exprs => RobotsAllowed(exprs(0), exprs(1), exprs(2)), "built-in")
    reg.createOrReplaceTempFunction(
      "audio_pcm_features", exprs => AudioPcmFeatures(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "rp_buckets",
      exprs =>
        RpBuckets(
          exprs(0),
          exprs(1).eval(null).asInstanceOf[Int],
          exprs(2).eval(null).asInstanceOf[Int],
          exprs(3).eval(null).asInstanceOf[Int]
        ),
      "built-in")
    reg.createOrReplaceTempFunction(
      "nearest_centroids",
      exprs => {
        val m = exprs(1).eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val centroids: Seq[Seq[Double]] =
          (0 until m.numElements()).map(i => m.getArray(i).toDoubleArray().toSeq)
        NearestCentroids(exprs(0), centroids, exprs(2).eval(null).asInstanceOf[Int])
      },
      "built-in")
    reg.createOrReplaceTempFunction(
      "topk_by_score",
      exprs =>
        TopKByScore(
          exprs(0),
          exprs(1),
          exprs(2).eval(null).asInstanceOf[Int]
        ).toAggregateExpression(),
      "built-in")
    reg.createOrReplaceTempFunction(
      "topk_by_long_score",
      exprs =>
        TopKByLongScore(
          exprs(0),
          exprs(1),
          exprs(2).eval(null).asInstanceOf[Int]
        ).toAggregateExpression(),
      "built-in")
    // Spark's OWN runtime-filter bloom machinery (the expressions behind
    // spark.sql.optimizer.runtime.bloomFilter), exposed as callable
    // functions: build hashes values with XxHash64 exactly as the probe
    // expects, so the pair is always consistent.
    reg.createOrReplaceTempFunction(
      "bloom_agg",
      exprs =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(exprs(0))),
          exprs(1),
          exprs(2)
        ).toAggregateExpression(),
      "built-in")
    reg.createOrReplaceTempFunction(
      "bloom_might_contain",
      exprs =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs(0),
          new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(exprs(1)))
        ),
      "built-in")
    reg.createOrReplaceTempFunction(
      "zorder_value",
      exprs =>
        graft.operators.ZOrder.zExpression(
          exprs(0),
          exprs(1),
          exprs(2).eval(null).asInstanceOf[Int]),
      "built-in")
  }

  /** Cosine similarity of two array<float>/array<double> columns. */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Unicode NFC normalization (ASCII fast path; codegen'd). */
  def nfcNormalize(text: Column): Column = call_function("nfc_normalize", text)

  /** Elementwise mean of an array<float>/array<double> column (aggregate;
    * one (count, sums) pair per group×partition ships through the shuffle).
    */
  def vectorAvg(vec: Column): Column = call_function("vector_avg", vec)

  /** Exact integer second moments (n, Σq, upper-tri Σqqᵀ) of a quantized
    * ARRAY<BIGINT> vector column — the one-pass PCA/whitening trainer
    * input (aggregate; one triple per group×partition ships through the
    * shuffle).
    */
  def intGram(vec: Column): Column = call_function("int_gram", vec)

  /** Elementwise (mins, maxs) ranges of a vector column — ONE
    * struct(mins array<double>, maxs array<double>) row per group.
    */
  def vectorMinMax(vec: Column): Column = call_function("vector_min_max", vec)

  /** Per-partition Misra-Gries heavy-hitter CANDIDATES (aggregate;
    * O(partitions × k) sketch entries cross the exchange, never the full
    * vocabulary — see [[MisraGriesTokens]] for the completeness bound).
    */
  def misraGriesTokens(tokens: Column, k: Int): Column =
    call_function("misra_gries_tokens", tokens, lit(k))

  /** KMV distinct-count sketch: the k smallest distinct values of a LONG
    * hash column as a sorted ascending array (aggregate; O(k) state per
    * group×partition crosses the exchange — see KmvMins).
    */
  def kmvMins(hash: Column, k: Int): Column = call_function("kmv_mins", hash, lit(k))

  /** HyperLogLog register file (64 int registers) of a string column —
    * aggregate with elementwise-max merge (see HllRegisters).
    */
  def hllRegisters(elem: Column): Column = call_function("hll_registers", elem)

  /** Count-min sketch of a tokens-array column: the flattened depth×width
    * counter matrix (row-major array<long>; aggregate with elementwise-sum
    * merge, so depth×width longs per group×partition cross the exchange —
    * see CountMinTokens).
    */
  def countMinTokens(tokens: Column, depth: Int, width: Int): Column =
    call_function("count_min_tokens", tokens, lit(depth), lit(width))

  /** 64-bit SimHash of an array<string> token column. */
  def simhash64(tokens: Column): Column = call_function("simhash64", tokens)

  /** MD5-derived SimHash as four 16-bit bands (array<int>, length 4) —
    * the cross-engine-reproducible variant; see SimHashMd5Bands.
    */
  def simhashMd5Bands(tokens: Column): Column = call_function("simhash_md5_bands", tokens)

  /** LSH band hashes (array<long> of length `bands`) from a shingle array —
    * signature computed once internally; see MinHashBands.
    */
  def minhashBands(shingles: Column, bands: Int, rowsPerBand: Int): Column =
    call_function("minhash_bands", shingles, lit(bands), lit(rowsPerBand))

  /** Exact per-group top-k (array<struct<neighbor_id,score>>, score desc,
    * id-asc ties) with map-side partial aggregation — see TopKByScore.
    */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    call_function("topk_by_score", score, id, lit(k))

  /** [[topKByScore]] over BIGINT scores — exact 64-bit tie order even
    * above 2^53; see TopKByLongScore.
    */
  def topKByLongScore(score: Column, id: Column, k: Int): Column =
    call_function("topk_by_long_score", score, id, lit(k))

  /** L1-normalized 256-bin byte histogram of a binary column. */
  def byteHistogram(payload: Column): Column = call_function("byte_histogram", payload)

  /** Real header decode for codec-free formats (wav/bmp), NULL otherwise —
    * see DecodeMediaMeta.
    */
  def decodeMediaMeta(payload: Column): Column = call_function("decode_media_meta", payload)

  /** 8×8 perceptual average-hash of an uncompressed BMP payload (real
    * pixel decode; NULL for codec-requiring formats) — see ImageAHash.
    */
  def imageAHash(payload: Column): Column = call_function("image_ahash", payload)

  /** Per-doc repetition raw counts (top-token multiplicity, distinct/total
    * 2- and 3-gram windows) — see RepetitionCounts. Built registry-free
    * (ExpressionUtils) so TextAnalysis works on sessions that never called
    * [[register]].
    */
  def repetitionCounts(toks: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      RepetitionCounts(org.apache.spark.sql.GraftSqlBridge.expression(toks)))

  /** (Σ run·ln(run), n_chars) for the char-entropy closed form — see
    * CharRunEntropySums. Registry-free like [[repetitionCounts]].
    */
  def charRunEntropySums(text: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      CharRunEntropySums(org.apache.spark.sql.GraftSqlBridge.expression(text)))

  /** Deterministic synthetic 24-bit BMP bytes from (id, w, h) — see
    * BuildBmp.
    */
  def buildBmp(id: Column, w: Column, h: Column): Column =
    call_function("build_bmp", id, w, h)

  /** Deterministic synthetic GIF89a bytes from (id, w, h) — same pixels
    * as [[buildBmp]] through a genuinely valid LZW stream; see BuildGif.
    */
  def buildGif(id: Column, w: Column, h: Column): Column =
    call_function("build_gif", id, w, h)

  /** Deterministic synthetic 8-bit grayscale PNG bytes — same pixels as
    * [[buildBmp]] through a stored-mode zlib stream; see BuildPng.
    */
  def buildPng(id: Column, w: Column, h: Column): Column =
    call_function("build_png", id, w, h)

  /** Deterministic synthetic baseline JPEG bytes — block-constant tiles of
    * the shared formula through a real Huffman entropy segment; see
    * BuildJpeg.
    */
  def buildJpeg(id: Column, w: Column, h: Column): Column =
    call_function("build_jpeg", id, w, h)

  /** Deterministic multi-frame GIF89a bytes; frame f's pixels are the
    * BuildBmp formula shifted by f·37 — see BuildAnimGif.
    */
  def buildAnimGif(id: Column, w: Column, h: Column, frames: Column): Column =
    call_function("build_anim_gif", id, w, h, frames)

  /** Per-frame aHashes (array<long>) of an animated GIF through the full
    * LZW decoder; frame sampling composes via posexplode — see
    * GifFrameHashes.
    */
  def gifFrameHashes(payload: Column): Column = call_function("gif_frame_hashes", payload)

  /** Nearest-neighbor resize of a real BMP payload to (w, h), re-encoded
    * as a 24-bit BMP — see ResizeBmp.
    */
  def resizeBmp(payload: Column, w: Column, h: Column): Column =
    call_function("resize_bmp", payload, w, h)

  /** Deterministic 16-bit PCM mono WAV bytes from (id, rate, n) — see
    * BuildWav.
    */
  def buildWav(id: Column, rate: Column, n: Column): Column =
    call_function("build_wav", id, rate, n)

  /** Minimal genuine ISO-BMFF (MP4) file with the given dims/duration —
    * see BuildMp4.
    */
  def buildMp4(w: Column, h: Column, durMs: Column): Column =
    call_function("build_mp4", w, h, durMs)

  /** Minimal genuine MP3 (ID3v2 tag + CBR MPEG1-L3 frames) — see BuildMp3. */
  def buildMp3(id: Column, frames: Column, tagBytes: Column): Column =
    call_function("build_mp3", id, frames, tagBytes)

  /** Genuinely-VBR MP3 fixture with a Xing frame-count tag (see
    * BuildMp3Vbr) — the byte-length CBR estimate is wrong on it by
    * construction; only the Xing path recovers the exact duration.
    */
  def buildMp3Vbr(id: Column, frames: Column, tagBytes: Column): Column =
    call_function("build_mp3_vbr", id, frames, tagBytes)

  /** Multi-frame AVI fixture with per-frame deterministic payloads (see
    * BuildAviFrames).
    */
  def buildAviFrames(w: Column, h: Column, frames: Column): Column =
    call_function("build_avi_frames", w, h, frames)

  /** Every stride-th movi frame's position-weighted payload checksum
    * (see AviFrameChecksums).
    */
  def aviFrameChecksums(bytes: Column, stride: Column): Column =
    call_function("avi_frame_checksums", bytes, stride)

  /** Deterministic HTML page planting `text` inside id-derived
    * boilerplate (head/script/style, link-only nav, comment with markup,
    * link-dense footer) — see BuildHtml.
    */
  def buildHtml(id: Column, text: Column): Column =
    call_function("build_html", id, text)

  /** Real markup walk → struct(full_text, main_text, n_blocks,
    * n_dropped): visible-text extraction + per-block link-density
    * boilerplate filter — see HtmlExtract.
    */
  def htmlExtract(html: Column, threshold: Column): Column =
    call_function("html_extract", html, threshold)

  /** Genuine multi-record WARC/1.0 file (warcinfo + 1+id%3 resource
    * records, each carrying the planted page) — see BuildWarc.
    */
  def buildWarc(id: Column, text: Column): Column =
    call_function("build_warc", id, text)

  /** Genuine WebDataset-style tar sample per (id, text) — see BuildTar. */
  def buildTar(id: Column, text: Column): Column =
    call_function("build_tar", id, text)

  /** Real ustar walk → array<struct(name, size, entry_offset, payload)>,
    * NULL on any malformation — see TarEntries.
    */
  def tarEntries(bytes: Column): Column =
    call_function("tar_entries", bytes)

  /** Real WARC record walk → array<struct(rec_offset, rec_type,
    * target_uri, rec_date, content_length, payload)> — see WarcRecords.
    */
  def warcRecords(bytes: Column): Column =
    call_function("warc_records", bytes)

  /** Mixed text+image WARC file (the BuildWarc records, then 1+id%2
    * image/bmp records from the shared BmpBytes pixel core; every 7th
    * doc's images magic-corrupted in place) — see BuildMediaWarc.
    */
  def buildMediaWarc(id: Column, text: Column): Column =
    call_function("build_media_warc", id, text)

  /** Binary-payload WARC record walk → array<struct(rec_offset,
    * rec_type, target_uri, rec_date, content_type, content_length,
    * payload: binary)> — see MediaWarcRecords.
    */
  def mediaWarcRecords(bytes: Column): Column =
    call_function("media_warc_records", bytes)

  /** Every `<a href>` attribute value in document order (quote-aware
    * attribute parse; script/style/comments never contribute) — the
    * HTML → web-graph step; see HtmlLinks.
    */
  def htmlLinks(html: Column): Column =
    call_function("html_links", html)

  /** Every `<a href>` with its entity-decoded, whitespace-collapsed
    * anchor TEXT as `array<struct<href, text>>` — the pair stream
    * anchor-text aggregation consumes; see HtmlAnchors.
    */
  def htmlAnchors(html: Column): Column =
    call_function("html_anchors", html)

  /** Deterministic sitemap/sitemapindex fixture — see BuildSitemap. */
  def buildSitemap(id: Column): Column =
    call_function("build_sitemap", id)

  /** Sitemap parse → array<struct<kind, loc, lastmod, changefreq,
    * priority_ppm>> (urlset AND sitemapindex; CDATA, entity decode,
    * integer-ppm priority) — see SitemapUrls.
    */
  def sitemapUrls(xml: Column): Column =
    call_function("sitemap_urls", xml)

  /** Unicode script histogram → struct(n_latin, n_cyrillic, n_cjk,
    * n_digit, n_space, n_other) — see ScriptCounts.
    */
  def scriptCounts(text: Column): Column =
    call_function("script_counts", text)

  /** RFC 3986 §6 URL canonicalization → struct(norm_url, scheme, host,
    * port, path): case/port/escape/dot-segment normalization, fragment
    * dropped — see UrlNormalize.
    */
  def urlNormalize(url: Column): Column =
    call_function("url_normalize", url)

  /** Per-record-gzip-member WARC file (the Common Crawl `.warc.gz`
    * layout) — see BuildWarcGz.
    */
  def buildWarcGz(id: Column, text: Column): Column =
    call_function("build_warc_gz", id, text)

  /** Multi-member gzip split + real inflate (RFC 1952 walk, CRC32 +
    * ISIZE verified per member) → array<binary> — see GzipMembers.
    */
  def gzipMembers(bytes: Column): Column =
    call_function("gzip_members", bytes)

  /** RFC 9309 robots.txt evaluation: may `agent` fetch `path`? Group
    * selection by longest agent-token prefix, longest-pattern rule
    * precedence with Allow winning ties, `*`/`$` wildcards — see
    * RobotsAllowed.
    */
  def robotsAllowed(robots: Column, agent: Column, path: Column): Column =
    call_function("robots_allowed", robots, agent, path)

  /** Minimal genuine AVI (RIFF hdrl/strl/movi, 25 fps) — see BuildAvi. */
  def buildAvi(w: Column, h: Column, frames: Column): Column =
    call_function("build_avi", w, h, frames)

  /** Real PCM sample decode → raw integer audio statistics (sum_sq,
    * sum_abs, peak, zero_cross, …) — see AudioPcmFeatures.
    */
  def audioPcmFeatures(payload: Column): Column = call_function("audio_pcm_features", payload)

  /** Sign-random-projection LSH bucket ids, one int per hash table
    * (array<int> of length `tables`) — see RpBuckets.
    */
  def rpBuckets(vec: Column, tables: Int, bitsPerTable: Int, seed: Int): Column =
    call_function("rp_buckets", vec, lit(tables), lit(bitsPerTable), lit(seed))

  /** Exact-integer sign-LSH buckets (hash40-derived planes, floor-1000
    * quantization) — the oracle-replayable variant; see IntLshBuckets.
    */
  def intLshBuckets(vec: Column, tables: Int, bitsPerTable: Int): Column =
    call_function("int_lsh_buckets", vec, lit(tables), lit(bitsPerTable))

  /** Integer product-quantization codes (range-calibrated hash40
    * codebooks, floor-1000 quantization, argmin integer L2) — see
    * IntPqCodes. (mns, mxs) are per-dimension integer bounds of the
    * quantized corpus.
    */
  def intPqCodes(vec: Column, m: Int, ksub: Int, mns: Seq[Long], mxs: Seq[Long]): Column =
    call_function("int_pq_codes", vec, lit(m), lit(ksub), typedlit(mns), typedlit(mxs))

  /** ADC: exact integer squared L2 between a full-precision query and a
    * PQ-coded corpus vector's reconstruction — see IntPqDist.
    */
  def intPqDist(
      qVec: Column, codes: Column, m: Int, ksub: Int,
      mns: Seq[Long], mxs: Seq[Long]): Column =
    call_function("int_pq_dist", qVec, codes, lit(m), lit(ksub), typedlit(mns), typedlit(mxs))

  /** One Lloyd round of PQ training: per-(subspace, code) counts + sums
    * as a single bounded-state aggregate — see PqTrainSums.
    */
  def pqTrainSums(vec: Column, books: Seq[Double], m: Int, ksub: Int): Column =
    call_function("pq_train_sums", vec, typedlit(books), lit(m), lit(ksub))

  /** Trained-codebook PQ code assignment — see PqAssign. */
  def pqAssign(vec: Column, books: Seq[Double], m: Int, ksub: Int): Column =
    call_function("pq_assign", vec, typedlit(books), lit(m), lit(ksub))

  /** Trained-codebook ADC squared L2 — see PqAdc. */
  def pqAdc(qVec: Column, codes: Column, books: Seq[Double], m: Int, ksub: Int): Column =
    call_function("pq_adc", qVec, codes, typedlit(books), lit(m), lit(ksub))

  /** Distributed bloom-filter build over a column (binary result — Spark's
    * runtime-filter BloomFilterAggregate; values hashed with XxHash64).
    */
  def bloomAgg(value: Column, expectedItems: Long, numBits: Long): Column =
    call_function("bloom_agg", value, lit(expectedItems), lit(numBits))

  /** Membership probe against a [[bloomAgg]]-built binary (no false
    * negatives; false-positive rate set by the build's bits/item).
    */
  def bloomMightContain(bloomBinary: Column, value: Column): Column =
    call_function("bloom_might_contain", bloomBinary, value)

  /** Hamming distance between two simhashes — built-ins only. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** The `take` nearest of a bounded driver-side centroid matrix (0-based
    * indices, cosine-descending) — the IVF coarse quantizer; see
    * NearestCentroids. The matrix rides along as a nested-array literal.
    */
  def nearestCentroids(vec: Column, centroids: Seq[Seq[Double]], take: Int): Column =
    call_function("nearest_centroids", vec, typedlit(centroids), lit(take))
}
