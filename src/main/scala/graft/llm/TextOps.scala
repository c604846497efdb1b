package graft.llm

import graft.{QueryDef, core}
import graft.core._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for a training-data pipeline (builder brief;
  * SURVEY.md §7.5): token counting, quality scoring, language-ID heuristic,
  * document fingerprinting, and the multimodal binary-column plumbing.
  *
  * Everything is built from codegen'd `functions._` / higher-order array
  * expressions — one narrow projection per document, no UDFs, no shuffle
  * except the final oracle ORDER BY. At 100 TB of documents each op is a
  * single map-parallel pass over a column-pruned parquet scan.
  */
object TextOps {

  /** Whitespace tokens of `text` (the canonical tokenizer for these ops). */
  private def toks(c: Column): Column = split(c, "\\s+")

  /** t1 — token counting: whitespace tokens plus a BPE-ish regex pass
    * (alphabetic runs), chars-per-token — the length stats every corpus
    * pipeline computes before training. */
  val tTokenStats: QueryDef = QueryDef(
    "t_token_stats",
    Some("""
      SELECT doc_id,
             len(string_split_regex(text, '\s+')) AS n_tokens,
             len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_tokens,
             length(text) AS n_chars_actual,
             CAST(length(text) AS DOUBLE)
               / CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) AS chars_per_token
      FROM documents
      ORDER BY doc_id
    """)) { (spark, dir) =>
    tbl(spark, dir, "documents").select(
      col("doc_id"),
      size(toks(col("text"))).cast(LongType).as("n_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]+', 0)")).cast(LongType).as("n_alpha_tokens"),
      length(col("text")).cast(LongType).as("n_chars_actual"),
      (length(col("text")).cast(DoubleType) /
        size(toks(col("text"))).cast(DoubleType)).as("chars_per_token"))
      .orderBy("doc_id")
  }

  /** Common English stopwords present in the corpus vocabulary. */
  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** t2 — quality scoring: stopword ratio, mean word length, uppercase/punct
    * incidence, and a composite keep/drop verdict — the heuristic quality
    * filter stage of a pretraining pipeline (cf. C4/Gopher-style rules). */
  val tQualityScore: QueryDef = QueryDef(
    "t_quality_score",
    Some("""
      WITH scored AS (
        SELECT doc_id, lang,
               len(string_split_regex(text, '\s+')) AS n_tokens,
               CAST(len(list_filter(string_split_regex(text, '\s+'),
                                    x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
                 / CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) AS stopword_ratio,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) AS mean_word_len
        FROM documents)
      SELECT doc_id, lang, n_tokens, stopword_ratio, mean_word_len,
             n_tokens >= 20 AND n_tokens <= 1000
               AND mean_word_len >= 2.0 AND mean_word_len <= 12.0 AS keep_doc
      FROM scored
      ORDER BY doc_id
    """)) { (spark, dir) =>
    val t = toks(col("text"))
    val nTok = size(t).cast(DoubleType)
    val stopCnt = size(filter(t, x => x.isin(stopwords: _*))).cast(DoubleType)
    val meanWordLen = length(regexp_replace(col("text"), " ", "")).cast(DoubleType) / nTok
    tbl(spark, dir, "documents").select(
      col("doc_id"), col("lang"),
      size(t).cast(LongType).as("n_tokens"),
      (stopCnt / nTok).as("stopword_ratio"),
      meanWordLen.as("mean_word_len"),
      (size(t).between(20, 1000) && meanWordLen.between(2.0, 12.0)).as("keep_doc"))
      .orderBy("doc_id")
  }

  /** t3 — language-ID heuristic: marker-token voting (the n-gram/stopword
    * family of lang-ID). The corpus vocabulary is synthetic so the markers
    * are corpus words; the structure — per-language marker hit counts and an
    * argmax with a confidence ratio — is the real pipeline shape. */
  val tLangId: QueryDef = QueryDef(
    "t_lang_id",
    Some("""
      WITH hits AS (
        SELECT doc_id, lang AS lang_label,
               len(string_split_regex(text, '\s+')) AS n_tokens,
               len(list_filter(string_split_regex(text, '\s+'),
                               x -> x IN ('the','a','query','table'))) AS en_hits,
               len(list_filter(string_split_regex(text, '\s+'),
                               x -> x IN ('data','fast','batch'))) AS x1_hits,
               len(list_filter(string_split_regex(text, '\s+'),
                               x -> x IN ('spark','merge','window'))) AS x2_hits
        FROM documents)
      SELECT doc_id, lang_label, en_hits, x1_hits, x2_hits,
             CASE WHEN en_hits >= x1_hits AND en_hits >= x2_hits THEN 'en'
                  WHEN x1_hits >= x2_hits THEN 'x1' ELSE 'x2' END AS predicted_lang,
             CAST(greatest(en_hits, x1_hits, x2_hits) AS DOUBLE)
               / CAST(n_tokens AS DOUBLE) AS confidence
      FROM hits
      ORDER BY doc_id
    """)) { (spark, dir) =>
    val t = toks(col("text"))
    def hits(words: String*): Column =
      size(filter(t, x => x.isin(words: _*))).cast(LongType)
    tbl(spark, dir, "documents").select(
      col("doc_id"), col("lang").as("lang_label"),
      size(t).cast(LongType).as("n_tokens"),
      hits("the", "a", "query", "table").as("en_hits"),
      hits("data", "fast", "batch").as("x1_hits"),
      hits("spark", "merge", "window").as("x2_hits"))
      .select(
        col("doc_id"), col("lang_label"), col("en_hits"), col("x1_hits"), col("x2_hits"),
        when(col("en_hits") >= col("x1_hits") && col("en_hits") >= col("x2_hits"), "en")
          .when(col("x1_hits") >= col("x2_hits"), "x1")
          .otherwise("x2").as("predicted_lang"),
        (greatest(col("en_hits"), col("x1_hits"), col("x2_hits")).cast(DoubleType) /
          col("n_tokens").cast(DoubleType)).as("confidence"))
      .orderBy("doc_id")
  }

  /** t4 — document fingerprinting: exact content hash (md5) plus an
    * order-insensitive bag-of-words fingerprint (md5 over sorted tokens) —
    * the two cheap fingerprints dedup pipelines key on before anything
    * fuzzy. */
  val tFingerprint: QueryDef = QueryDef(
    "t_fingerprint",
    Some("""
      SELECT doc_id,
             md5(text) AS content_fp,
             md5(array_to_string(list_sort(string_split_regex(text, '\s+')), ' ')) AS bag_fp
      FROM documents
      ORDER BY doc_id
    """)) { (spark, dir) =>
    tbl(spark, dir, "documents").select(
      col("doc_id"),
      md5(col("text")).as("content_fp"),
      md5(array_join(array_sort(toks(col("text"))), " ")).as("bag_fp"))
      .orderBy("doc_id")
  }

  /** t5 — multimodal binary-column plumbing: media payloads travel as opaque
    * `binary` with typed metadata. The real decode (image/audio libs) is
    * STUBBED deterministically — here the payload is the UTF-8 encoding of
    * `text` — but the Spark-side shape is real: binary column, byte length,
    * content digest, magic-bytes header extraction, and a decode-stage
    * verdict, all codegen'd scalar ops per row (partition-parallel; no
    * driver involvement at any scale). */
  val tMultimodalMeta: QueryDef = QueryDef(
    "t_multimodal_meta",
    Some("""
      SELECT doc_id,
             octet_length(encode(text)) AS byte_len,
             md5(text) AS content_digest,
             upper(substring(hex(encode(text)), 1, 16)) AS header_hex,
             octet_length(encode(text)) BETWEEN 32 AND 1048576 AS decodable
      FROM documents
      ORDER BY doc_id
    """)) { (spark, dir) =>
    val bin = encode(col("text"), "UTF-8")
    tbl(spark, dir, "documents").select(
      col("doc_id"),
      length(bin).cast(LongType).as("byte_len"),
      md5(col("text")).as("content_digest"),
      upper(substring(hex(bin), 1, 16)).as("header_hex"),
      length(bin).between(32, 1048576).as("decodable"))
      .orderBy("doc_id")
  }

  /** Decoded-media feature record (public: Spark's encoders must reach it). */
  case class MediaFeat(doc_id: Long, width: Int, height: Int, n_frames: Int,
      intensity_sum: Long, decoder: String)

  /** t6 — multimodal DECODE stage: the media decoder pattern — opaque
    * binary payload → per-item features — run through `mapPartitions` over
    * a typed Dataset, the shape a real image/audio decoder needs (library
    * handle initialized once per partition, items decoded in a batch loop,
    * fixed output schema). The codec libraries aren't in this container, so
    * the decode itself is a clearly-marked DETERMINISTIC STUB (dimensions
    * from length arithmetic, intensity = exact code-point sum of the decoded
    * payload, so parity holds for non-ASCII corpora too); the Spark-side
    * plumbing — binary column in, typed partition-parallel map, schema out —
    * is real, and the oracle replays the stub arithmetic in code points.
    * This is the codebase's CANONICAL `mapPartitions` site, used exactly
    * where the brief allows it: genuinely imperative per-partition logic
    * (the other sanctioned sites are [[ceScoredHeadCompute]]'s CE batch
    * scoring and the OPQ moment accumulation in
    * [[graft.llm.Similarity]] — all shapes a Catalyst expression cannot
    * express). */
  val tMultimodalDecode: QueryDef = QueryDef(
    "t_multimodal_decode",
    Some("""
      SELECT doc_id,
             CAST(n_chars % 640 AS INTEGER) AS width,
             CAST((n_chars * 7) % 480 AS INTEGER) AS height,
             CAST(octet_length(encode(text)) % 30 AS INTEGER) AS n_frames,
             CAST(COALESCE(list_sum(list_transform(range(1, length(text) + 1),
                  i -> unicode(substring(text, i, 1)))), 0) AS BIGINT) AS intensity_sum,
             'stub-v1' AS decoder
      FROM documents
      ORDER BY doc_id
    """)) { (spark, dir) =>
    import spark.implicits._
    val payloads = tbl(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast(LongType).as("n_chars"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Long, Array[Byte])]
    payloads.mapPartitions { items =>
      // a real decoder would open its codec context HERE, once per partition
      items.map { case (id, nChars, bytes) =>
        // STUB decode: deterministic features standing in for image decode.
        // Intensity = sum of Unicode code points of the decoded payload
        // (not raw UTF-8 bytes — byte-sum equals code-point-sum only for
        // pure-ASCII corpora, and the oracle speaks code points); an empty
        // payload sums to 0 on both engines.
        val decoded = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        var sum = 0L
        var i = 0
        while (i < decoded.length) {
          val cp = decoded.codePointAt(i)
          sum += cp
          i += Character.charCount(cp)
        }
        MediaFeat(id, (nChars % 640).toInt, ((nChars * 7) % 480).toInt,
          bytes.length % 30, sum, "stub-v1")
      }
    }.toDF().orderBy("doc_id")
  }

  /** t8 — multimodal FRAME-SAMPLE stage: the 1→N expansion a video/audio
    * pipeline runs between decode and feature extraction — treat the opaque
    * payload as fixed-size frames (64 B), emit every 2nd frame's
    * identifier + content digest. Spark shape: `explode(sequence(...))` —
    * a row-local generator, zero shuffle, and the downstream per-frame
    * work parallelizes over the exploded rows. The frame DIGEST is the
    * stub standing in for real frame decode (codec libs absent here, same
    * convention as t_multimodal_decode); the expansion plumbing is real.
    * ANSI guard: `sequence(0, n-1, 2)` DESCENDS if n = 0, so frame count
    * is floored at 1 (every document yields at least frame 0). */
  val tMultimodalFrames: QueryDef = QueryDef(
    "t_multimodal_frames",
    Some("""
      SELECT doc_id, frame_idx,
             md5(md5(text) || ':' || CAST(frame_idx AS VARCHAR)) AS frame_digest
      FROM (
        SELECT doc_id, text,
               unnest(range(0, greatest(CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT), 1), 2))
                 AS frame_idx
        FROM documents)
      ORDER BY doc_id, frame_idx
    """)) { (spark, dir) =>
    val nFrames = greatest(ceil(length(encode(col("text"), "UTF-8")) / lit(64.0)).cast(LongType), lit(1L))
    tbl(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("payload_digest"),
        explode(sequence(lit(0L), nFrames - 1, lit(2L))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        md5(concat(col("payload_digest"), lit(":"), col("frame_idx").cast(StringType)))
          .as("frame_digest"))
      .orderBy("doc_id", "frame_idx")
  }

  /** t7 — deterministic stratified sampling (training-corpus curation):
    * per-language rates rebalance a skewed corpus (downsample the dominant
    * 'en', keep more of the tails). The keep decision hashes the DOCUMENT
    * KEY (`md5(doc_id)` prefix against a per-stratum hex threshold), never
    * `rand()`: the sample is reproducible across runs, engines, and
    * partitionings, a row's fate never depends on which executor saw it,
    * and the predicate is a map-side filter — at 100 TB sampling costs one
    * scan with zero shuffle. The hex-prefix comparison is engine-parity-safe
    * (both engines emit lowercase-hex md5 and compare strings
    * lexicographically); threshold "1a"/256 ≈ 10%, "66"/256 ≈ 40%. */
  val tStratifiedSample: QueryDef = QueryDef(
    "t_stratified_sample",
    Some("""
      SELECT doc_id, lang
      FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
              < CASE WHEN lang = 'en' THEN '1a' ELSE '66' END
      ORDER BY doc_id
    """)) { (spark, dir) =>
    val threshold = when(col("lang") === "en", lit("1a")).otherwise(lit("66"))
    tbl(spark, dir, "documents")
      .filter(substring(md5(col("doc_id").cast(StringType)), 1, 2) < threshold)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** t8 — intra-document line dedup (C4-style boilerplate removal: drop
    * repeated lines within a document, keeping first occurrences in
    * order). The corpus has no newlines, so the gate SYNTHESIZES the line
    * structure deterministically — reshape each doc into 8-token lines and
    * plant a repeat by re-appending line 1 (the classic repeated header /
    * boilerplate) — then runs the real operator: posexplode lines →
    * first-occurrence position per distinct (doc, line) → reassemble in
    * original order. Shape at 100 TB: one explode + two partial-aggregated
    * groupBys, all keyed by doc_id so AQE coalesces; no doc's lines ever
    * gather outside its own group, and a document too large for one row is
    * exactly what the explode normalizes. Oracle replays it with a
    * positional struct-unnest + ordered `string_agg`. */
  val tLineDedup: QueryDef = QueryDef(
    "t_line_dedup",
    Some("""
      WITH tok AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
      ln AS (
        SELECT doc_id,
               list_transform(range(0, CAST(ceil(len(t) / 8.0) AS INTEGER)),
                 c -> array_to_string(list_slice(t, c*8 + 1, c*8 + 8), ' ')) AS lines
        FROM tok),
      doc AS (
        SELECT doc_id, list_concat(lines, list_slice(lines, 1, 1)) AS lines FROM ln),
      ex AS (
        SELECT doc_id, u.line AS line, u.ord AS ord FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(lines) + 1),
            i -> {'line': lines[i], 'ord': i})) AS u
          FROM doc)),
      firsts AS (
        SELECT doc_id, line, min(ord) AS mp, count(*) AS c
        FROM ex GROUP BY doc_id, line)
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_lines,
             count(*) AS n_uniq,
             string_agg(line, chr(10) ORDER BY mp) AS clean_text
      FROM firsts GROUP BY doc_id ORDER BY doc_id
    """)) { (spark, dir) =>
    // bindOnce both levels: the chunking lambda re-evaluated the token
    // split per CHUNK (O(tokens²/8) per doc) and the plant referenced the
    // whole transform twice — both now evaluate once per row
    val lines = bindOnce(toks(col("text"))) { t =>
      val nChunks = ceil(size(t) / lit(8.0)).cast(IntegerType)
      bindOnce(transform(sequence(lit(0), greatest(nChunks, lit(1)) - 1),
        c => array_join(slice(t, c * 8 + 1, lit(8)), " "))) { ls =>
        concat(ls, slice(ls, 1, 1))
      }
    }
    val withPlant = tbl(spark, dir, "documents")
      .select(col("doc_id"), lines.as("lines"))
    val firsts = withPlant
      .select(col("doc_id"), posexplode(col("lines")).as(Seq("pos", "line")))
      .groupBy("doc_id", "line")
      .agg(min(col("pos")).as("mp"), count(lit(1)).as("c"))
    firsts.groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_lines"),
        count(lit(1)).as("n_uniq"),
        // deterministic ordered reassembly: collect_list order is
        // partition-arbitrary, so sort by the (unique) first position
        array_join(
          transform(array_sort(collect_list(struct(col("mp"), col("line")))),
            s => s.getField("line")), "\n").as("clean_text"))
      .orderBy("doc_id")
  }

  /** t8b — CORPUS-level boilerplate removal: drop lines appearing in more
    * than 5% of documents (cross-document line frequency — the CCNet /
    * RefinedWeb-style pass every training-data pipeline runs; completes
    * the intra-document t8 the way dedup_cluster completed pairwise
    * dedup). The corpus has no newlines, so the gate synthesizes the same
    * 8-token line structure as t8 and PLANTS the boilerplate: a header
    * line prepended to every document (df = 100%) and a second header on
    * doc_id % 3 == 0 (df ≈ 33%) — both 8-token-aligned so they chunk into
    * identical lines; natural lines sit far under the threshold. Shape at
    * 100 TB: one persisted explode of (doc, pos, line); document frequency
    * is a hash-shuffle on md5(line) (fixed-width key, never raw text) with
    * partial aggregation; the boiler set is provably small — at most
    * total_lines / (0.05 · n_docs) distinct hashes — so it BROADCASTS and
    * the line stream shuffles exactly once more, to its own doc_id, for
    * ordered reassembly. The corpus size enters the threshold via a
    * broadcast 1-row frame, not a driver scalar. */
  val tBoilerplateCorpus: QueryDef = {
    val hdr1 = "graft corpus boiler head alpha beta gamma one"
    val hdr2 = "graft corpus boiler foot delta epsilon zeta two"
    QueryDef(
      "t_boilerplate_corpus",
      Some(s"""
      WITH src AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN '$hdr1 $hdr2 ' || text
                    ELSE '$hdr1 ' || text END AS text
        FROM documents),
      tok AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM src),
      ex AS (
        SELECT doc_id, u.pos AS pos, u.line AS line FROM (
          SELECT doc_id, unnest(list_transform(range(0, CAST(ceil(len(t) / 8.0) AS INTEGER)),
            c -> {'pos': c, 'line': array_to_string(list_slice(t, c*8 + 1, c*8 + 8), ' ')})) AS u
          FROM tok)),
      freq AS (
        SELECT md5(line) AS h, count(DISTINCT doc_id) AS df FROM ex GROUP BY 1),
      nd AS (SELECT count(*) AS n_docs FROM src),
      flagged AS (
        SELECT e.doc_id, e.pos, e.line, f.df > 0.05 * nd.n_docs AS is_boiler
        FROM ex e JOIN freq f ON md5(e.line) = f.h CROSS JOIN nd)
      SELECT doc_id,
             count(*) AS n_lines,
             CAST(sum(CASE WHEN is_boiler THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
             COALESCE(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT is_boiler), '')
               AS clean_text
      FROM flagged GROUP BY doc_id ORDER BY doc_id
    """)) { (spark, dir) =>
      val src = tbl(spark, dir, "documents")
        // single-file source → spread the chunking pass across cores
        .repartition(spark.sessionState.conf.numShufflePartitions)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(lit(s"$hdr1 $hdr2 "), col("text")))
            .otherwise(concat(lit(s"$hdr1 "), col("text"))).as("text"))
      val lines = bindOnce(toks(col("text"))) { t =>
        val nChunks = ceil(size(t) / lit(8.0)).cast(IntegerType)
        transform(sequence(lit(0), greatest(nChunks, lit(1)) - 1),
          c => array_join(slice(t, c * 8 + 1, lit(8)), " "))
      }
      // compute-once barrier: the explode feeds both the frequency agg and
      // the flag join
      val ex = src.select(col("doc_id"), posexplode(lines).as(Seq("pos", "line")))
        .persist()
      val nDocs = src.agg(count(lit(1)).as("n_docs"))
      val freq = ex.groupBy(md5(col("line")).as("h"))
        .agg(countDistinct(col("doc_id")).as("df"))
      // the 1-row corpus count and the (small by construction) boiler set
      // both broadcast — the exploded line stream never shuffles for them
      val boilerHashes = freq.crossJoin(broadcast(nDocs))
        .filter(col("df") > lit(0.05) * col("n_docs"))
        .select(col("h"), lit(true).as("is_b"))
      val flagged = ex.join(broadcast(boilerHashes),
        md5(col("line")) === col("h"), "left")
      flagged.groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_lines"),
          countIf(col("is_b").isNull).as("n_kept"),
          // ordered reassembly of surviving lines: collect_list drops the
          // NULLs that when() leaves on boiler rows; pos is unique per doc
          array_join(
            transform(
              array_sort(collect_list(when(col("is_b").isNull,
                struct(col("pos"), col("line"))))),
              s => s.getField("line")), "\n").as("clean_text"))
        .orderBy("doc_id")
    }
  }

  /** t8d — the corpus FILTER FUNNEL: the multi-stage keep/drop pipeline
    * every pretraining corpus goes through (lang-ID → length → quality →
    * exact dedup), with per-stage drop accounting and a checksum of the
    * surviving set. Each document is attributed to its FIRST failing
    * stage (funnel semantics); exact dedup runs only among docs that
    * passed the filters and keeps the min doc_id per content hash, so a
    * planted copy (doc_id % 7 → +200000, same text) always loses the tie.
    * Shape at 100 TB: one projection computes every stage flag in a single
    * codegen'd pass; the only shuffle is the dedup window partitioned by
    * md5(text) (fixed-width key), then a single-row conditional
    * aggregation with map-side partials. The survivor-set checksums
    * (sum(id), sum(id²) in DECIMAL(38,0) — overflow-proof under ANSI) are
    * commutative, so no doc list ever gathers anywhere. */
  val tCorpusFilter: QueryDef = QueryDef(
    "t_corpus_filter",
    Some("""
      WITH src AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 200000, text FROM documents WHERE doc_id % 7 = 0),
      feat AS (
        SELECT doc_id, text,
               len(string_split_regex(text, '\s+')) AS n_tokens,
               len(list_filter(string_split_regex(text, '\s+'),
                               x -> x IN ('the','a','query','table'))) AS en_hits,
               len(list_filter(string_split_regex(text, '\s+'),
                               x -> x IN ('data','fast','batch'))) AS x1_hits,
               len(list_filter(string_split_regex(text, '\s+'),
                               x -> x IN ('spark','merge','window'))) AS x2_hits,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) AS mwl
        FROM src),
      flags AS (
        SELECT doc_id, text,
               en_hits >= x1_hits AND en_hits >= x2_hits AS lang_ok,
               n_tokens BETWEEN 20 AND 1000 AS len_ok,
               mwl BETWEEN 2.0 AND 12.0 AS qual_ok
        FROM feat),
      withdup AS (
        SELECT doc_id, lang_ok, len_ok, qual_ok,
               lang_ok AND len_ok AND qual_ok AND doc_id <>
                 min(CASE WHEN lang_ok AND len_ok AND qual_ok THEN doc_id END)
                   OVER (PARTITION BY md5(text)) AS is_dup
        FROM flags),
      lab AS (
        SELECT doc_id,
               CASE WHEN NOT lang_ok THEN 'lang'
                    WHEN NOT len_ok THEN 'length'
                    WHEN NOT qual_ok THEN 'quality'
                    WHEN is_dup THEN 'dup' END AS fail_stage
        FROM withdup)
      SELECT count(*) AS n_docs,
             CAST(sum(CASE WHEN fail_stage = 'lang' THEN 1 ELSE 0 END) AS BIGINT) AS drop_lang,
             CAST(sum(CASE WHEN fail_stage = 'length' THEN 1 ELSE 0 END) AS BIGINT) AS drop_length,
             CAST(sum(CASE WHEN fail_stage = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS drop_quality,
             CAST(sum(CASE WHEN fail_stage = 'dup' THEN 1 ELSE 0 END) AS BIGINT) AS drop_dup,
             CAST(sum(CASE WHEN fail_stage IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN fail_stage IS NULL THEN CAST(doc_id AS DECIMAL(38,0)) END) AS DOUBLE) AS kept_sum,
             CAST(sum(CASE WHEN fail_stage IS NULL THEN CAST(doc_id AS DECIMAL(38,0)) * doc_id END) AS DOUBLE) AS kept_sumsq
      FROM lab
    """)) { (spark, dir) =>
    val d = tbl(spark, dir, "documents").select("doc_id", "text")
    val src = d.unionAll(
      d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      // single-file source → spread the scoring pass across cores
      .repartition(spark.sessionState.conf.numShufflePartitions)
    val t = toks(col("text"))
    def hits(words: String*): Column = size(filter(t, x => x.isin(words: _*)))
    val mwl = length(regexp_replace(col("text"), " ", "")).cast(DoubleType) /
      size(t).cast(DoubleType)
    val flags = src.select(
      col("doc_id"), col("text"),
      (hits("the", "a", "query", "table") >= hits("data", "fast", "batch") &&
        hits("the", "a", "query", "table") >= hits("spark", "merge", "window")).as("lang_ok"),
      size(t).between(20, 1000).as("len_ok"),
      mwl.between(2.0, 12.0).as("qual_ok"))
    val passed = col("lang_ok") && col("len_ok") && col("qual_ok")
    val byContent = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))
    val lab = flags
      .select(col("doc_id"),
        (passed && col("doc_id") =!=
          min(when(passed, col("doc_id"))).over(byContent)).as("is_dup"),
        col("lang_ok"), col("len_ok"), col("qual_ok"))
      .select(col("doc_id"),
        when(!col("lang_ok"), "lang")
          .when(!col("len_ok"), "length")
          .when(!col("qual_ok"), "quality")
          .when(col("is_dup"), "dup").as("fail_stage"))
    val kept = col("fail_stage").isNull
    lab.agg(
      count(lit(1)).as("n_docs"),
      countIf(col("fail_stage") === "lang").as("drop_lang"),
      countIf(col("fail_stage") === "length").as("drop_length"),
      countIf(col("fail_stage") === "quality").as("drop_quality"),
      countIf(col("fail_stage") === "dup").as("drop_dup"),
      countIf(kept).as("n_kept"),
      sum(when(kept, col("doc_id").cast(DecimalType(38, 0)))).cast(DoubleType).as("kept_sum"),
      sum(when(kept, col("doc_id").cast(DecimalType(38, 0)) * col("doc_id")))
        .cast(DoubleType).as("kept_sumsq"))
  }

  /** The ONE definition of the 512-block prefix-sum pack layout, shared by
    * every pack gate ([[tPackSequences]], [[tPackSubword]],
    * [[graft.llm.Bpe.bpePack]]) — the gates differ only in how they count a
    * document's tokens. Input: (doc_id, shard, n_tokens); output: the block
    * span per doc. Exact floor semantics via floor(x / 512.0) on both
    * engines (doubles are exact far past any corpus token count < 2^53).
    * A zero-token doc yields last_block = first_block − 1 — the consistent
    * "empty span" encoding on both engines. */
  private[llm] def packLayout(counts: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    counts
      .withColumn("tok_start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("tok_start"),
        floor(col("tok_start") / 512.0).cast(LongType).as("first_block"),
        floor((col("tok_start") + col("n_tokens") - 1) / 512.0).cast(LongType)
          .as("last_block"),
        (col("tok_start") % 512).as("block_offset"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[packLayout]]: `ctes` is the WITH-body up to and
    * including a `tk(doc_id, shard, n_tokens)` CTE. */
  private[llm] def packLayoutSql(ctes: String): String = s"""
      WITH $ctes,
      cum AS (
        SELECT doc_id, shard, n_tokens,
               -- DuckDB sum(BIGINT) widens to HUGEINT (rendered as float):
               -- pin the offset back to BIGINT to match Spark's long
               CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        FROM tk)
      SELECT doc_id, shard, n_tokens, tok_start,
             CAST(floor(tok_start / 512.0) AS BIGINT) AS first_block,
             CAST(floor((tok_start + n_tokens - 1) / 512.0) AS BIGINT) AS last_block,
             tok_start % 512 AS block_offset
      FROM cum ORDER BY doc_id
    """

  /** t8e — SEQUENCE PACKING: lay documents end-to-end and cut fixed
    * 512-token context windows (the GPT-style concat-and-chunk batching
    * every pretraining run performs). The layout is a pure PREFIX SUM, so
    * it parallelizes: docs shard deterministically (doc_id % 8 here;
    * thousands of shards at corpus scale), each shard lays out its docs in
    * doc_id order via a window cumsum, and each doc's block span falls out of
    * integer arithmetic on its start offset — no sequential packer, no
    * driver loop, and within-shard layout is independent of partitioning. */
  val tPackSequences: QueryDef = QueryDef(
    "t_pack_sequences",
    Some(packLayoutSql("""tk AS (
        SELECT doc_id, doc_id % 8 AS shard,
               len(string_split_regex(text, '\s+')) AS n_tokens
        FROM documents)"""))) { (spark, dir) =>
    packLayout(tbl(spark, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
        size(toks(col("text"))).cast(LongType).as("n_tokens")))
  }

  /** t8f — TEMPERATURE-WEIGHTED domain resampling (the XLM-R-style α=0.5
    * mixture pass): keep-rate per language = sqrt(n_min / n_lang), so the
    * smallest domain is kept whole and large domains are downsampled
    * toward a flatter mixture. Rates are QUANTIZED to k/4096 and applied
    * as a lexicographic 3-hex-char threshold on a salted md5 of the doc id
    * — every step (division, sqrt, *4096, floor) is a correctly-rounded
    * IEEE op, so both engines derive the identical integer threshold and
    * the identical per-doc verdicts; no float ever crosses a comparison.
    * Shape at 100 TB: one count aggregation, the per-lang rate table
    * broadcast back (a handful of rows), one map-side keep decision per
    * doc, one final per-lang rollup with commutative kept-set checksums. */
  val tMixtureSample: QueryDef = QueryDef(
    "t_mixture_sample",
    Some("""
      WITH lc AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
      mn AS (SELECT min(n_l) AS n_min FROM lc),
      rates AS (
        SELECT lang, n_l,
               CAST(floor(sqrt(CAST(n_min AS DOUBLE) / n_l) * 4096) AS BIGINT) AS k
        FROM lc CROSS JOIN mn),
      dec AS (
        SELECT d.doc_id, d.lang, r.n_l, r.k,
               (r.k >= 4096 OR substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 3)
                  < lpad(lower(to_hex(r.k)), 3, '0')) AS keep
        FROM documents d JOIN rates r USING (lang))
      SELECT lang,
             count(*) AS n_total,
             CAST(max(k) AS BIGINT) AS threshold_k,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN keep THEN CAST(doc_id AS DECIMAL(38,0)) END) AS DOUBLE) AS kept_sum,
             CAST(sum(CASE WHEN keep THEN CAST(doc_id AS DECIMAL(38,0)) * doc_id END) AS DOUBLE) AS kept_sumsq
      FROM dec GROUP BY lang ORDER BY lang
    """)) { (spark, dir) =>
    val docs = tbl(spark, dir, "documents").select("doc_id", "lang")
    val lc = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
    val mn = lc.agg(min(col("n_l")).as("n_min"))
    val rates = lc.crossJoin(broadcast(mn))
      .select(col("lang"), col("n_l"),
        floor(sqrt(col("n_min").cast(DoubleType) / col("n_l")) * 4096)
          .cast(LongType).as("k"))
    val keep = col("k") >= 4096 ||
      substring(md5(concat(lit("mix|"), col("doc_id").cast(StringType))), 1, 3) <
        lpad(lower(hex(col("k"))), 3, "0")
    docs.join(broadcast(rates), Seq("lang"))
      .select(col("lang"), col("doc_id"), col("k"), keep.as("keep"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_total"),
        max(col("k")).as("threshold_k"),
        countIf(col("keep")).as("n_kept"),
        sum(when(col("keep"), col("doc_id").cast(DecimalType(38, 0))))
          .cast(DoubleType).as("kept_sum"),
        sum(when(col("keep"), col("doc_id").cast(DecimalType(38, 0)) * col("doc_id")))
          .cast(DoubleType).as("kept_sumsq"))
      .orderBy("lang")
  }

  /** t8f2 — MIXTURE EPOCH PLANNING (the companion to [[tMixtureSample]]:
    * that gate decides WHICH documents a flattened mixture keeps, this one
    * decides HOW MANY PASSES each domain contributes to a fixed token
    * budget — the epochs-per-subset accounting every published pretraining
    * recipe reports). Inputs: per-language available token mass (one
    * count/sum aggregation) and a uniform target mixture over the observed
    * languages against a budget of one full corpus pass (both policy
    * constants, pinned like the [[tMixtureSample]] α — and exactly the
    * multilingual dilemma: a uniform mixture at corpus-sized budget forces
    * every below-average language to repeat). Per language:
    * `target_tokens = Σ tokens div n_langs` (exact integer), the
    * epochs ratio target/available (one final int/int division), an
    * oversampled verdict (`target > available` — compared as integers, no
    * float crosses a comparison), and the shortfall a single-epoch cap
    * would leave. Shape at 100 TB: one map-side token count + per-lang
    * rollup (a handful of groups), then arithmetic on the tiny rollup —
    * the corpus is read once and nothing else moves. */
  val tMixtureEpochs: QueryDef = QueryDef(
    "t_mixture_epochs",
    Some("""
      WITH lc AS (
        SELECT lang,
               CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang),
      tot AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total,
               CAST(count(*) AS BIGINT) AS n_langs
        FROM lc),
      plan AS (
        SELECT lang, n_tokens, n_total // n_langs AS target_tokens
        FROM lc CROSS JOIN tot)
      SELECT lang, n_tokens, target_tokens,
             round(CAST(target_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS epochs_r,
             target_tokens > n_tokens AS oversampled,
             CAST(greatest(target_tokens - n_tokens, 0) AS BIGINT) AS deficit_tokens
      FROM plan ORDER BY lang
    """)) { (spark, dir) =>
    val lc = tbl(spark, dir, "documents")
      .groupBy("lang")
      .agg(sum(size(toks(col("text"))).cast(LongType)).as("n_tokens"))
    val tot = lc.agg(sum(col("n_tokens")).as("n_total"),
      count(lit(1)).as("n_langs"))
    lc.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_tokens"),
        // integer div end-to-end (`div`, not `/`): the double detour would
        // lose exactness past 2^53 total tokens — inside the 100 TB posture
        expr("n_total div n_langs").as("target_tokens"))
      .select(col("lang"), col("n_tokens"), col("target_tokens"),
        round(col("target_tokens").cast(DoubleType)
          / col("n_tokens").cast(DoubleType), 6).as("epochs_r"),
        (col("target_tokens") > col("n_tokens")).as("oversampled"),
        greatest(col("target_tokens") - col("n_tokens"), lit(0L))
          .as("deficit_tokens"))
      .orderBy("lang")
  }

  /** t8g — REPETITION statistics (the Gopher-rule repetition signals):
    * duplicate-line fraction over the synthesized 8-token line structure
    * (row-local — no explode; a distinct count inside the row) and the
    * top word-bigram share (max bigram multiplicity / total bigrams —
    * this one needs the real multiplicity, so NON-distinct bigrams
    * explode into a two-level count). Shape at 100 TB: the line stats are
    * a pure map pass; the bigram stats shuffle once on (doc, bigram) with
    * map-side partials, re-aggregate by doc (already co-partitioned), and
    * the final join is doc-keyed on both pre-hashed sides. */
  val tRepetitionStats: QueryDef = QueryDef(
    "t_repetition_stats",
    Some("""
      WITH tok AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
      ln AS (
        SELECT doc_id,
               list_transform(range(0, CAST(ceil(len(t) / 8.0) AS INTEGER)),
                 c -> array_to_string(list_slice(t, c*8 + 1, c*8 + 8), ' ')) AS lines
        FROM tok),
      lstat AS (
        SELECT doc_id, len(lines) AS n_lines, len(list_distinct(lines)) AS n_uniq_lines
        FROM ln),
      bg AS (
        SELECT doc_id, unnest(list_transform(range(1, len(t)),
          i -> t[i] || ' ' || t[i+1])) AS b
        FROM tok WHERE len(t) >= 2),
      bcnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
      bstat AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_c
        FROM bcnt GROUP BY doc_id)
      SELECT l.doc_id, l.n_lines, l.n_uniq_lines,
             1.0 - CAST(l.n_uniq_lines AS DOUBLE) / l.n_lines AS dup_line_frac,
             COALESCE(b.n_bigrams, 0) AS n_bigrams,
             COALESCE(CAST(b.top_c AS DOUBLE) / b.n_bigrams, 0.0) AS top_bigram_share
      FROM lstat l LEFT JOIN bstat b USING (doc_id)
      ORDER BY doc_id
    """)) { (spark, dir) =>
    val src = tbl(spark, dir, "documents")
      // single-file source → spread the token passes across cores
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select("doc_id", "text")
    val linesCol = bindOnce(toks(col("text"))) { t =>
      transform(sequence(lit(0),
        greatest(ceil(size(t) / lit(8.0)).cast(IntegerType), lit(1)) - 1),
        c => array_join(slice(t, c * 8 + 1, lit(8)), " "))
    }
    val lstat = src.select(col("doc_id"), linesCol.as("lines"))
      .select(col("doc_id"),
        size(col("lines")).cast(LongType).as("n_lines"),
        size(array_distinct(col("lines"))).cast(LongType).as("n_uniq_lines"))
    // NON-distinct bigrams (multiplicity matters here, unlike bigrams2)
    val bigramsAll = bindOnce(toks(col("text"))) { a =>
      when(size(a) >= 2,
        slice(zip_with(a, slice(a, lit(2), size(a)), (x, y) => concat_ws(" ", x, y)),
          lit(1), size(a) - 1))
        .otherwise(array().cast(ArrayType(StringType)))
    }
    val bstat = src.select(col("doc_id"), explode(bigramsAll).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_c"))
    lstat.join(bstat, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"), col("n_uniq_lines"),
        (lit(1.0) - col("n_uniq_lines").cast(DoubleType) / col("n_lines"))
          .as("dup_line_frac"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("top_c").cast(DoubleType) / col("n_bigrams"), lit(0.0))
          .as("top_bigram_share"))
      .orderBy("doc_id")
  }

  /** t8h — SALIENT-TERM extraction (the tf·idf family): per document, the
    * top-3 terms ranked by term frequency over document frequency. The
    * score is tf/df — ONE correctly-rounded division, so both engines
    * compute bit-identical doubles and the ranking can never diverge on a
    * libm ulp the way a log-based idf could; ties break on the term
    * itself (a term appears once per doc, so the sort key is total).
    * Shape at 100 TB: one (doc, term) shuffle with map-side partial
    * counts; df re-aggregates THAT output by term (counts of rows, not a
    * second corpus scan — the tf table is persisted); the tf⋈df join is
    * vocabulary-keyed; the top-k window partitions by doc over rows
    * already shrunk to distinct (doc, term). */
  val tSalientTerms: QueryDef = QueryDef(
    "t_salient_terms",
    Some("""
      WITH tf AS (
        SELECT doc_id, t AS term, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t FROM documents)
        GROUP BY doc_id, t),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               CAST(tf.tf AS DOUBLE) / df.df AS score,
               row_number() OVER (PARTITION BY tf.doc_id
                 ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term) AS term_rank
        FROM tf JOIN df USING (term))
      SELECT doc_id, term_rank, term, tf, df, score
      FROM scored WHERE term_rank <= 3
      ORDER BY doc_id, term_rank
    """)) { (spark, dir) =>
    val tf = tbl(spark, dir, "documents")
      // single-file source → spread the token explode across cores
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist() // compute-once barrier: feeds both df and the join
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .withColumn("score", col("tf").cast(DoubleType) / col("df"))
      .withColumn("term_rank", row_number().over(w).cast(LongType))
      .filter(col("term_rank") <= 3)
      .select(col("doc_id"), col("term_rank"), col("term"),
        col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "term_rank")
  }

  /** t8i — overlapping CHUNK WINDOWS (the retrieval-indexing split: size
    * 32 tokens, stride 24, 8-token overlap): every document expands
    * row-locally into its covering windows — start offsets are pure
    * arithmetic on the token count, the window array builds inside one
    * bindOnce lambda (token split evaluated once), and posexplode emits
    * (win_id, start, len, fp) rows with the chunk content carried as an
    * md5, never as text. Shape at 100 TB: a map-only 1→k expansion with
    * no shuffle but the oracle ORDER BY; chunks of one doc never need to
    * meet chunks of another. */
  val tChunkWindows: QueryDef = QueryDef(
    "t_chunk_windows",
    Some("""
      WITH tok AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
      wins AS (
        SELECT doc_id, u.i AS win_id,
               u.i * 24 AS tok_start,
               least(32, len(t) - u.i * 24) AS win_len,
               md5(array_to_string(
                 list_slice(t, u.i * 24 + 1, u.i * 24 + least(32, len(t) - u.i * 24)),
                 ' ')) AS chunk_fp
        FROM tok,
             unnest(range(0, CASE WHEN len(t) > 32
               THEN CAST(ceil((len(t) - 32) / 24.0) AS INTEGER) ELSE 0 END + 1)) AS u(i))
      SELECT doc_id, win_id, tok_start, win_len, chunk_fp
      FROM wins ORDER BY doc_id, win_id
    """)) { (spark, dir) =>
    val wins = bindOnce(toks(col("text"))) { t =>
      val n = size(t)
      val k = when(n > 32, ceil((n - 32) / lit(24.0)).cast(IntegerType)).otherwise(lit(0))
      transform(sequence(lit(0), k), i => {
        val start = i * 24
        val len = least(lit(32), n - start)
        struct(start.cast(LongType).as("tok_start"), len.cast(LongType).as("win_len"),
          md5(array_join(slice(t, start + 1, len), " ")).as("chunk_fp"))
      })
    }
    tbl(spark, dir, "documents")
      // single-file source → spread the chunking across cores
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), posexplode(wins).as(Seq("win_id", "w")))
      .select(col("doc_id"), col("win_id").cast(LongType).as("win_id"),
        col("w.tok_start").as("tok_start"), col("w.win_len").as("win_len"),
        col("w.chunk_fp").as("chunk_fp"))
      .orderBy("doc_id", "win_id")
  }

  // -- PII redaction -------------------------------------------------------
  // Patterns are written in the common RE2 ⊂ Java-regex subset (character
  // classes and bounded repetition only — no lookaround, no backrefs) so
  // the DuckDB oracle replays them VERBATIM. Replacement tokens cannot
  // re-match a later pattern in the chain.
  private[graft] val emailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[graft] val phoneRe = """[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"""
  private[graft] val acctRe = """ACCT-[0-9]+"""

  /** Chained codegen'd `regexp_replace` passes: email → phone → account id.
    * Order matters only in that replacements must not feed later patterns
    * (the bracket tokens can't). Reusable over any text column — the same
    * chain a cleaning flow would run over free-text fields. */
  private[graft] def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailRe, "[EMAIL]"),
        phoneRe, "[PHONE]"),
      acctRe, "[ID]")

  /** t8c — PII redaction over the customer contact path: mask emails,
    * phone numbers, and account ids in free text and count redactions per
    * category (the audit trail a compliance pass needs). The fixture's
    * customer table carries no contact columns, so the gate synthesizes a
    * deterministic TPC-H-shaped phone (dd-ddd-ddd-dddd from custkey) and
    * builds a contact note — email present except custkey % 5, phone
    * doubled on custkey % 3 — so per-category counts actually vary.
    * Everything is a single codegen'd projection over a column-pruned
    * scan: three regexp_replace passes plus three regexp_count, no
    * shuffle but the oracle ORDER BY. At 100 TB this is a map-only pass. */
  val tPiiRedact: QueryDef = QueryDef(
    "t_pii_redact",
    Some(s"""
      WITH ph AS (
        SELECT c_custkey, c_name,
               (10 + c_custkey % 90) || '-' || (100 + (c_custkey * 7) % 900)
                 || '-' || (100 + (c_custkey * 13) % 900)
                 || '-' || (1000 + (c_custkey * 31) % 9000) AS phone
        FROM customer),
      src AS (
        SELECT c_custkey,
               c_name ||
               CASE WHEN c_custkey % 5 = 0 THEN ''
                    ELSE ' <cust' || c_custkey || '@example.com>' END ||
               ' tel ' || phone ||
               CASE WHEN c_custkey % 3 = 0 THEN ' alt ' || phone ELSE '' END ||
               ' ref ACCT-' || c_custkey AS note
        FROM ph)
      SELECT c_custkey,
             regexp_replace(regexp_replace(regexp_replace(note,
               '$emailRe', '[EMAIL]', 'g'),
               '$phoneRe', '[PHONE]', 'g'),
               'ACCT-[0-9]+', '[ID]', 'g') AS redacted_note,
             CAST(len(regexp_extract_all(note, '$emailRe')) AS BIGINT) AS n_email,
             CAST(len(regexp_extract_all(note, '$phoneRe')) AS BIGINT) AS n_phone,
             CAST(len(regexp_extract_all(note, 'ACCT-[0-9]+')) AS BIGINT) AS n_id
      FROM src ORDER BY c_custkey
    """)) { (spark, dir) =>
    val phone = concat(
      lit(10) + col("c_custkey") % 90, lit("-"),
      lit(100) + (col("c_custkey") * 7) % 900, lit("-"),
      lit(100) + (col("c_custkey") * 13) % 900, lit("-"),
      lit(1000) + (col("c_custkey") * 31) % 9000)
    val note = concat(
      col("c_name"),
      when(col("c_custkey") % 5 === 0, lit(""))
        .otherwise(concat(lit(" <cust"), col("c_custkey"), lit("@example.com>"))),
      lit(" tel "), col("phone"),
      when(col("c_custkey") % 3 === 0, concat(lit(" alt "), col("phone")))
        .otherwise(lit("")),
      lit(" ref ACCT-"), col("c_custkey"))
    tbl(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), phone.as("phone"))
      .select(col("c_custkey"), note.as("note"))
      .select(
        col("c_custkey"),
        redactPii(col("note")).as("redacted_note"),
        regexp_count(col("note"), lit(emailRe)).cast(LongType).as("n_email"),
        regexp_count(col("note"), lit(phoneRe)).cast(LongType).as("n_phone"),
        regexp_count(col("note"), lit(acctRe)).cast(LongType).as("n_id"))
      .orderBy("c_custkey")
  }

  /** t9 — benchmark decontamination: flag training documents that share
    * any word 8-gram with an evaluation/benchmark set (the contamination
    * check every pre-training pipeline runs; 8–13-gram overlap is the
    * published convention). Gate: eval set = doc_id % 50 == 0; training
    * set = the rest plus PLANTED contaminated rows (an eval doc's full
    * text + a suffix at id+300000), so recall is provable. Shape at
    * 100 TB: grams are md5-hashed (fixed-width keys, never raw text),
    * the eval side is tiny and BROADCAST — the corpus-side gram stream
    * never shuffles; per-doc counts partial-aggregate map-side. */
  val tDecontaminate: QueryDef = QueryDef(
    "t_decontaminate",
    Some("""
      WITH eval_docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
      train AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
        UNION ALL
        SELECT doc_id + 300000, text || ' zzcontam' FROM eval_docs),
      grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(t) - 6),
                 i -> md5(t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '
                          ||t[i+4]||' '||t[i+5]||' '||t[i+6]||' '||t[i+7])))) AS g
        FROM (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM train)
        WHERE len(t) >= 8),
      eval_grams AS (
        SELECT DISTINCT eval_id, g FROM (
          SELECT doc_id AS eval_id,
                 unnest(list_distinct(list_transform(range(1, len(t) - 6),
                   i -> md5(t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '
                            ||t[i+4]||' '||t[i+5]||' '||t[i+6]||' '||t[i+7])))) AS g
          FROM (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM eval_docs)
          WHERE len(t) >= 8))
      SELECT doc_id,
             count(DISTINCT g) AS n_shared_ngrams,
             count(DISTINCT eval_id) AS n_eval_docs
      FROM grams JOIN eval_grams USING (g)
      GROUP BY doc_id ORDER BY doc_id
    """)) { (spark, dir) =>
    // explode gram START POSITIONS first, then build each digest
    // row-at-a-time from codegen'd element_at/concat_ws/md5 — the
    // array-of-digests `transform` form runs INTERPRETED per element and
    // measured ~10× slower here. The oracle's list_distinct is mirrored
    // by the row-level distinct (map-side-combined on (id, g)).
    def grams8(df: DataFrame, idCol: String): DataFrame = df
      .select(col(idCol), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 8)
      .select(col(idCol), col("t"),
        explode(sequence(lit(1), size(col("t")) - 7)).as("i"))
      .select(col(idCol),
        md5(concat_ws(" ",
          (0 until 8).map(o => element_at(col("t"), col("i") + o)): _*)).as("g"))
      .distinct()
    val docs = tbl(spark, dir, "documents").select("doc_id", "text")
      // single-file source → spread the gram+digest pass across cores
      .repartition(spark.sessionState.conf.numShufflePartitions)
    val evalDocs = docs.filter(col("doc_id") % 50 === 0)
    val train = docs.filter(col("doc_id") % 50 =!= 0)
      .unionAll(evalDocs.select((col("doc_id") + 300000L).as("doc_id"),
        concat(col("text"), lit(" zzcontam")).as("text")))
    val trainGrams = grams8(train, "doc_id")
    val evalGrams = grams8(evalDocs.withColumnRenamed("doc_id", "eval_id"), "eval_id")
    trainGrams.join(broadcast(evalGrams), "g")
      .groupBy("doc_id")
      .agg(count_distinct(col("g")).as("n_shared_ngrams"),
        count_distinct(col("eval_id")).as("n_eval_docs"))
      .orderBy("doc_id")
  }

  /** t10 — deterministic training-data shuffle: every example gets a
    * reproducible global shuffle position, the export order a trainer
    * streams. Position = rank in `md5(seed | doc_id)` order (a new seed =
    * a fresh epoch-level reshuffle); the md5 key is suffixed with the
    * doc_id so keys stay unique even under digest collision — the
    * uniqueness W8 surrogate keys require (a repeated key fails the
    * numbering). Rank is computed by that same one sorted pass (sort by
    * key → `zipWithIndex` in partition order): no global
    * single-partition window, so it holds at any corpus size, and the
    * sort's range partitioning IS the export layout (each output
    * partition is a contiguous, internally-sorted slice of the shuffle
    * order). */
  val tShuffleExport: QueryDef = QueryDef(
    "t_shuffle_export",
    Some("""
      SELECT doc_id,
             row_number() OVER (ORDER BY md5('42|' || doc_id) || '-' || doc_id)
               AS shuffle_pos
      FROM documents ORDER BY doc_id
    """)) { (spark, dir) =>
    val keyed = tbl(spark, dir, "documents").select(
      col("doc_id"),
      concat(md5(concat(lit("42|"), col("doc_id").cast(StringType))),
        lit("-"), col("doc_id").cast(StringType)).as("__skey"))
    graft.model.Warehouse.withSurrogateKey(keyed, "__skey", "shuffle_pos")
      .select(col("doc_id"), col("shuffle_pos"))
      .orderBy("doc_id")
  }

  /** t6b — multimodal RESIZE stage (between decode and feature
    * extraction): letterbox-fit each decoded item into the model's 224×224
    * input, preserving aspect ratio — target dims, padding, and the
    * resized-payload identity computed per item. The pixel work is the
    * stub (same convention as t_multimodal_decode: a real resampler rides
    * the decode `mapPartitions`); the PLUMBING is real — the dims math is
    * all integer `div` (bit-deterministic on both engines), zero-sized
    * stub dims are floored at 1, and the output schema is what the
    * feature extractor downstream consumes. Pure map pass, no shuffle. */
  val tMultimodalResize: QueryDef = QueryDef(
    "t_multimodal_resize",
    Some("""
      WITH dims AS (
        SELECT doc_id, md5(text) AS content_digest,
               greatest(CAST(n_chars % 640 AS INTEGER), 1) AS w,
               greatest(CAST((n_chars * 7) % 480 AS INTEGER), 1) AS h
        FROM documents),
      fit AS (
        SELECT doc_id, content_digest, w, h,
               CASE WHEN w >= h THEN 224 ELSE (w * 224) // h END AS new_w,
               CASE WHEN w >= h THEN (h * 224) // w ELSE 224 END AS new_h
        FROM dims)
      SELECT doc_id, w, h, new_w, new_h,
             224 - new_w AS pad_x, 224 - new_h AS pad_y,
             md5(content_digest || ':' || CAST(new_w AS VARCHAR)
                 || 'x' || CAST(new_h AS VARCHAR)) AS resized_digest
      FROM fit
      ORDER BY doc_id
    """)) { (spark, dir) =>
    val w = greatest((col("n_chars") % 640).cast(IntegerType), lit(1))
    val h = greatest(((col("n_chars") * 7) % 480).cast(IntegerType), lit(1))
    tbl(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("content_digest"),
        w.as("w"), h.as("h"))
      .withColumn("new_w",
        when(col("w") >= col("h"), 224).otherwise(expr("(w * 224) div h")))
      .withColumn("new_h",
        when(col("w") >= col("h"), expr("(h * 224) div w")).otherwise(224))
      .select(col("doc_id"), col("w"), col("h"), col("new_w"), col("new_h"),
        (lit(224) - col("new_w")).as("pad_x"),
        (lit(224) - col("new_h")).as("pad_y"),
        md5(concat(col("content_digest"), lit(":"), col("new_w").cast(StringType),
          lit("x"), col("new_h").cast(StringType))).as("resized_digest"))
      .orderBy("doc_id")
  }

  /** t9b — corpus-trained RARITY scoring (the "train a statistic on the
    * corpus, apply it per document" pattern a perplexity filter runs —
    * CCNet-style — with the LM replaced by an integer-deterministic
    * surprisal proxy): global token frequencies are computed in one
    * word-count aggregation, each token's rarity is the DIGIT COUNT of
    * its corpus frequency (a log10 bucket with no libm in sight — `log`
    * differs across engines in final ulps, digit counts never do), and
    * each document scores its mean bucket plus its fraction of hapax/rare
    * tokens. Shape at 100 TB: one shuffle to count tokens, one
    * vocabulary-sized join back on the token, one per-doc aggregate —
    * the exact word-count topology, nothing document-sized ever
    * broadcast. Low mean_digits = rare-heavy (OCR noise, codes); high =
    * stop-word soup; both tails are what the filter drops. */
  val tRarityScore: QueryDef = QueryDef(
    "t_rarity_score",
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
        FROM documents),
      counts AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
      j AS (SELECT t.doc_id, c.n FROM tok t JOIN counts c USING (token))
      SELECT doc_id, count(*) AS n_tokens,
             CAST(sum(length(CAST(n AS VARCHAR))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS mean_digits,
             CAST(sum(CASE WHEN n <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS rare_frac
      FROM j
      GROUP BY doc_id
      ORDER BY doc_id
    """)) { (spark, dir) =>
    val tok = tbl(spark, dir, "documents")
      .select(col("doc_id"), explode(toks(col("text"))).as("token"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
    val counts = tok.groupBy("token").agg(count(lit(1)).as("n"))
    tok.join(counts, "token")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        (sum(length(col("n").cast(StringType))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("mean_digits"),
        (sum(when(col("n") <= 2, 1).otherwise(0)).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("rare_frac"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // Subword tokenization (round-9 queue #4): every token-denominated gate
  // above counts WHITESPACE tokens; real training pipelines count subword
  // tokens. This is a deterministic WordPiece-style GREEDY LONGEST-MATCH
  // over a fixed in-repo vocabulary — no external model, no RNG — kept as
  // a PARALLEL gate so the whitespace-token gates stay intact.
  // -------------------------------------------------------------------

  /** Multi-character vocabulary units by length (single characters are
    * implicitly in-vocab — the fallback that guarantees the tokenizer
    * always advances). Frequent English digraphs/trigraphs/quadgraphs:
    * what a tiny BPE learned on English text converges to first (and what
    * [[Bpe.bpeTrain]] now actually learns from the corpus). Single-sourced
    * with the native [[graft.functions.SubwordFold]] expression so the fold,
    * the codegen'd kernel and the DuckDB twin can never drift. */
  private val sub4 = graft.functions.SubwordFold.Sub4
  private val sub3 = graft.functions.SubwordFold.Sub3
  private val sub2 = graft.functions.SubwordFold.Sub2

  /** Greedy longest-match subword count of one (lowercase, non-empty) word.
    *
    * The greedy scan is a data-dependent-advance loop — not expressible as
    * a fixed-depth projection — so it runs as a SEQUENTIAL LEFT FOLD over
    * the word's character positions with the cursor packed into a single
    * BIGINT accumulator: `acc = pos·10⁶ + count`. Step i is a no-op unless
    * i is the cursor position; there it looks up the longest vocab match
    * (4→3→2→1 chars) and advances. Packing the state into one integer is
    * what makes the SAME fold replayable in DuckDB's `list_reduce` (whose
    * accumulator seeds from the list head — hence the prepended seed on
    * the oracle side); integer arithmetic is bit-identical on both
    * engines at any position. Pure per-row map work, O(chars) per word —
    * at 100 TB this is the same single-pass posture as [[tTokenStats]];
    * the native-`Expression` rewrite is the known optimization path if a
    * profiler ever ranks it. */
  private[llm] def subwordCount(
      w: Column,
      v4: Seq[String] = sub4, v3: Seq[String] = sub3, v2: Seq[String] = sub2): Column = {
    val folded = aggregate(
      sequence(lit(1), length(w)),
      lit(1000000L),
      (acc, i) => {
        val pos = (acc / lit(1000000L)).cast(IntegerType)
        val l = when(w.substr(pos, lit(4)).isin(v4: _*), 4)
          .when(w.substr(pos, lit(3)).isin(v3: _*), 3)
          .when(w.substr(pos, lit(2)).isin(v2: _*), 2)
          .otherwise(1)
        when(i.cast(LongType) === pos.cast(LongType),
          (pos + l).cast(LongType) * lit(1000000L) + acc % lit(1000000L) + lit(1L))
          .otherwise(acc)
      })
    folded % lit(1000000L)
  }

  /** DuckDB twin of [[subwordCount]] over word variable `$w`: identical
    * packed-state fold; `list_reduce` seeds from the first element, so the
    * initial state is prepended to the position list. */
  private[llm] def subwordCountSql(w: String): String = {
    def inList(xs: Seq[String]) = xs.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""list_reduce(
         list_prepend(CAST(1000000 AS BIGINT), range(1, length($w) + 1)),
         (acc, i) -> CASE WHEN CAST(i AS BIGINT) = acc // 1000000 THEN
             (acc // 1000000
              + CASE WHEN list_contains(${inList(sub4)}, substr($w, CAST(acc // 1000000 AS INTEGER), 4)) THEN 4
                     WHEN list_contains(${inList(sub3)}, substr($w, CAST(acc // 1000000 AS INTEGER), 3)) THEN 3
                     WHEN list_contains(${inList(sub2)}, substr($w, CAST(acc // 1000000 AS INTEGER), 2)) THEN 2
                     ELSE 1 END) * 1000000 + acc % 1000000 + 1
           ELSE acc END) % 1000000"""
  }

  /** Per-document subword count under the fixed vocab — the native
    * [[graft.functions.SubwordFold]] kernel (one tight Java loop per row,
    * inside whole-stage codegen), spec-pinned equal to the reference column
    * fold `aggregate(transform(filter(split(lower(text))), subwordCount))`
    * it replaced in the hot path. Shared by [[tTokenSubword]],
    * [[tPackSubword]] and [[Curation.cBudgetSubword]] — the export tail
    * measures the SAME token count the accounting gate reports. */
  private[graft] def docSubwords(text: Column): Column =
    call_function("graft_subwords", lower(text))

  /** The interpreted reference form of [[docSubwords]] — kept for the
    * equivalence spec and as the template for custom vocabularies. */
  private[graft] def docSubwordsFold(text: Column): Column =
    aggregate(
      transform(filter(toks(lower(text)), x => length(x) > 0), w => subwordCount(w)),
      lit(0L), (a, b) => a + b)

  /** DuckDB twin of [[docSubwords]] over text expression `$t`; `list_sum`
    * of an empty list is NULL, pinned back to 0 to match the Spark seed. */
  private[llm] def docSubwordsSql(t: String): String =
    s"""COALESCE(CAST(list_sum(list_transform(
          list_filter(string_split_regex(lower($t), '\\s+'), x -> length(x) > 0),
          w -> ${subwordCountSql("w")})) AS BIGINT), 0)"""

  /** t22 — SUBWORD token accounting: per document, whitespace-word count,
    * greedy-subword count over the fixed vocab, and fertility (subwords
    * per word — the number a tokenizer-aware packing/budget stage would
    * use instead of the whitespace count). Pure map pass over a pruned
    * (doc_id, text) scan; the fold is per-word, so cost is O(total chars)
    * regardless of corpus size. */
  val tTokenSubword: QueryDef = QueryDef(
    "t_token_subword",
    Some(s"""
      WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> length(x) > 0) AS ws
        FROM documents),
      c AS (
        SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(ws, w -> ${subwordCountSql("w")})) AS BIGINT)
                 AS n_subwords
        FROM w)
      SELECT doc_id, n_words, n_subwords,
             CAST(n_subwords AS DOUBLE) / CAST(NULLIF(n_words, 0) AS DOUBLE)
               AS fertility
      FROM c
      ORDER BY doc_id
    """)) { (spark, dir) =>
    // empty strings filtered BEFORE counting: Spark's split keeps empty
    // fields at separator runs the way the native scanner never forms
    val words = filter(toks(lower(col("text"))), x => length(x) > 0)
    tbl(spark, dir, "documents")
      .select(col("doc_id"),
        size(words).cast(LongType).as("n_words"),
        docSubwords(col("text")).as("n_subwords"))
      // empty/whitespace-only document ⇒ NULL fertility on BOTH engines:
      // Spark (non-ANSI) already yields NULL on /0 but DuckDB's IEEE float
      // divide yields Infinity — the when/NULLIF pair pins the agreed value
      .select(col("doc_id"), col("n_words"), col("n_subwords"),
        when(col("n_words") > 0,
          col("n_subwords").cast(DoubleType) / col("n_words").cast(DoubleType))
          .as("fertility"))
      .orderBy("doc_id")
  }

  /** t23 — SUBWORD-TRUE sequence packing (round-9 queue #4): identical
    * prefix-sum layout to [[tPackSequences]], but block spans are measured
    * in SUBWORD tokens ([[docSubwords]]) instead of whitespace words — so a
    * 512-token context window holds what the tokenizer actually emits, not
    * a fertility-inflated overestimate. Same scale shape: one map pass for
    * the counts (the greedy fold is O(chars) per doc), one window cumsum
    * per shard, block arithmetic on the offsets; the whitespace gate stays
    * registered untouched as the fixture-stable baseline. */
  val tPackSubword: QueryDef = QueryDef(
    "t_pack_subword",
    Some(packLayoutSql(s"""tk AS (
        SELECT doc_id, doc_id % 8 AS shard,
               ${docSubwordsSql("text")} AS n_tokens
        FROM documents)"""))) { (spark, dir) =>
    packLayout(tbl(spark, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
        docSubwords(col("text")).as("n_tokens")))
  }

  /** t24 — INVERTED-INDEX construction (the retrieval side of a training
    * pipeline: decontamination lookups, membership tests, and BM25-style
    * ranking all read a term → postings layout, and building it IS a
    * classic one-shuffle Spark job). Per term: document frequency, total
    * occurrences, and a bounded PREVIEW of the posting list (first 8
    * doc_ids ascending, joined to a string — full postings stream to the
    * index store at scale; df/tf_total are computed over ALL postings, so
    * nothing is silently truncated). Top-50 terms by df keeps the gate
    * output fixed-size at any corpus scale; ties break on the term.
    *
    * Shape at 100 TB: tokenize (map) → ONE shuffle keyed (term, doc) with
    * map-side combine → per-term aggregate of longs + an 8-element sorted
    * prefix; text never shuffles, posting previews are bounded, and the
    * final top-k is a sort of |vocabulary| scalar rows, not documents. */
  val tInvertedPostings: QueryDef = QueryDef(
    "t_inverted_postings",
    Some("""
      WITH tf AS (
        SELECT t AS term, doc_id, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t FROM documents)
        GROUP BY t, doc_id),
      idx AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS tf_total,
               array_to_string((list(doc_id ORDER BY doc_id))[1:8], ',') AS top_docs
        FROM tf GROUP BY term)
      SELECT term, df, tf_total, top_docs
      FROM idx ORDER BY df DESC, term LIMIT 50
    """)) { (spark, dir) =>
    val tf = tbl(spark, dir, "documents")
      // single-file source → spread the token explode across cores
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"),
        // collect_list order is partition-dependent; sort_array pins it
        array_join(slice(sort_array(collect_list(col("doc_id"))), 1, 8), ",")
          .as("top_docs"))
      .orderBy(col("df").desc, col("term"))
      .limit(50)
  }

  /** ONE text — the BM25 corpus-stream CTEs every lexical-retrieval
    * oracle shares (whitespace tokens, per-(term, doc) tf, doc lengths,
    * the (avgdl, n) stats row): [[tBm25Rank]] and [[tHybridRrf]] both
    * splice this, so a tokenizer or stats change can never
    * desynchronize the two lexical arms (the walkStepsSql/bwAggSql
    * anti-drift discipline). */
  private def bm25CorpusCtesSql: String = """tok AS (
        SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term FROM documents),
      tf AS (
        SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY term, doc_id),
      dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
      stats AS (
        SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
               CAST(count(*) AS DOUBLE) AS n FROM dl)"""

  /** ONE text — the per-(doc, term) BM25 contribution in 1e-6 fixed
    * point (rational un-logged RSJ idf × the k1=1.2 / b=0.75 saturation
    * curve); table aliases pinned to t (tf), q (df), d (dl), s (stats). */
  private def bm25ContribFpSql: String =
    """CAST(floor(((s.n - CAST(q.df AS DOUBLE) + 0.5) / (CAST(q.df AS DOUBLE) + 0.5))
                 * ((CAST(t.tf AS DOUBLE) * 2.2)
                    / (CAST(t.tf AS DOUBLE)
                       + 1.2 * (0.25 + 0.75 * (CAST(d.dl AS DOUBLE) / s.avgdl))))
                 * 1000000.0) AS BIGINT)"""

  /** The BM25 corpus statistics as standing marts (round 20: three
    * lexical-retrieval gates — [[tBm25Rank]], [[tHybridRrf]],
    * [[tCrossRerank]] — each re-paid the tokenize/tf corpus pass every
    * run; the statistics are a property of the corpus SNAPSHOT, so they
    * get the train-once/serve-many mart posture every index artifact
    * already has). One tokenize pass feeds the per-(term, doc) tf table;
    * doc lengths derive exactly from it (dl = Σ tf per doc — the same
    * Long count the tokenize emits). The ORACLE keeps replaying the
    * tokenize inline ([[bm25CorpusCtesSql]] — the referee convention), so
    * any artifact drift breaks the hash gate. */
  private val bm25Dag = new graft.pipeline.ModelRegistry(Seq("documents"), Seq(
    graft.pipeline.ModelDef("mart_bm25_tf", Nil, mart = true) { (s, d, _) =>
      tbl(s, d, "documents")
        // single-file source → spread the token explode across cores
        .repartition(s.sessionState.conf.numShufflePartitions)
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    },
    graft.pipeline.ModelDef("mart_bm25_dl", Seq("mart_bm25_tf"), mart = true) { (s, d, res) =>
      res("mart_bm25_tf").groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    }))

  /** Spark twin of [[bm25CorpusCtesSql]]: (tf, dl, stats) frames, read
    * from the standing [[bm25Dag]] marts (stats is one tiny aggregate
    * over the scalar dl table, recomputed per call). */
  private def bm25Streams(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val Seq(tf, dl) = graft.pipeline.MartCache.read(spark, dir, bm25Dag,
      "bm25_marts", "graft_bm25_", "mart_bm25_tf", "mart_bm25_dl")
    val stats = dl.agg(
      (sum(col("dl")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("avgdl"),
      count(lit(1)).cast(DoubleType).as("n"))
    (tf, dl, stats)
  }

  /** Spark twin of [[bm25ContribFpSql]] — association order mirrors the
    * oracle token-for-token: one fixed IEEE chain per (doc, term) over
    * columns (n, df, tf, dl, avgdl), then exact integer sums. */
  private def bm25ContribFp: Column = {
    val idf = (col("n") - col("df").cast(DoubleType) + lit(0.5)) /
      (col("df").cast(DoubleType) + lit(0.5))
    val satur = (col("tf").cast(DoubleType) * lit(2.2)) /
      (col("tf").cast(DoubleType) +
        lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast(DoubleType) / col("avgdl"))))
    floor(idf * satur * lit(1000000.0)).cast(LongType)
  }

  /** t25 — BM25-style RANKED RETRIEVAL over the [[tInvertedPostings]]
    * layout (the lookup a decontamination or topical-filter pass actually
    * issues: "which documents best match these terms?"). The query is
    * self-contained and scale-stable: the corpus's 5 highest-df terms
    * (ties on the term), so the gate needs no side fixture. Per matching
    * (doc, term): the classic tf saturation curve
    * `tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with k1=1.2, b=0.75, scaled
    * by a RATIONAL RSJ idf `(N−df+0.5)/(df+0.5)` — the exact operand of
    * BM25's log, used un-logged so no libm transcendental enters the
    * cross-engine contract (the t_quality_logit precedent; still strictly
    * decreasing in df, so common terms still count less). Each per-term
    * contribution is one fixed-order double chain quantized to a 1e-6
    * fixed-point BIGINT (`floor(c·1e6)`, the simCentroids trick) so the
    * per-doc sum is exact-integer and order-independent at any
    * parallelism. Output: top-20 docs by (score DESC, doc_id).
    *
    * Shape at 100 TB: tokenize (map) → (term,doc) shuffle with map-side
    * combine; the 5-row query table and the 1-row corpus stats broadcast;
    * the doc-length join is scalar-row sized; top-20 is a TakeOrdered of
    * |matching docs| scalar rows, never a global sort of documents. */
  val tBm25Rank: QueryDef = QueryDef(
    "t_bm25_rank",
    Some(s"""
      WITH $bm25CorpusCtesSql,
      q AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
        GROUP BY term ORDER BY df DESC, term LIMIT 5),
      hits AS (
        SELECT t.doc_id,
               $bm25ContribFpSql AS contrib_fp
        FROM tf t JOIN q USING (term) JOIN dl d USING (doc_id) CROSS JOIN stats s)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
             CAST(sum(contrib_fp) AS BIGINT) AS score_fp,
             round(CAST(sum(contrib_fp) AS DOUBLE) / 1000000.0, 6) AS score_r
      FROM hits GROUP BY doc_id
      ORDER BY score_fp DESC, doc_id LIMIT 20
    """)) { (spark, dir) =>
    val (tf, dl, stats) = bm25Streams(spark, dir)
    val q = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(5)
    tf.join(broadcast(q), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), bm25ContribFp.as("contrib_fp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"), sum(col("contrib_fp")).as("score_fp"))
      .select(col("doc_id"), col("n_hit"), col("score_fp"),
        round(col("score_fp").cast(DoubleType) / lit(1000000.0), 6).as("score_r"))
      .orderBy(col("score_fp").desc, col("doc_id"))
      .limit(20)
  }

  /** t26 — TOKENIZER-EFFICIENCY evaluation: the metrics a team actually
    * reads before committing to a vocabulary — compression (chars per
    * subword) and fertility (subwords per whitespace word), per language.
    * A tokenizer trained on an en-heavy corpus compresses en best; this
    * gate makes that measurable per stratum so a vocab change shows up as
    * a diff in 5 rows, not an eyeballed sample. Counts reuse the exact
    * kernels the accounting/packing gates bill with ([[docSubwords]] and
    * its DuckDB twin), so the evaluation measures the production
    * tokenizer, not a reimplementation. Ratios guard the zero case on
    * both engines (NULL, never Inf/NaN — the fertility-guard precedent).
    *
    * Shape at 100 TB: pure map pass (pruned lang/text scan, O(chars)
    * subword fold) into a map-side-combinable sum over |languages| groups
    * — the output is 5 scalar rows whether the corpus is 500 docs or
    * 100 TB. */
  val tTokenizerEval: QueryDef = QueryDef(
    "t_tokenizer_eval",
    Some(s"""
      WITH d AS (
        SELECT lang,
               CAST(length(text) AS BIGINT) AS nc,
               CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                    x -> length(x) > 0)) AS BIGINT) AS nw,
               ${docSubwordsSql("text")} AS ns
        FROM documents)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nc) AS BIGINT) AS n_chars,
             CAST(sum(nw) AS BIGINT) AS n_words,
             CAST(sum(ns) AS BIGINT) AS n_subwords,
             round(CAST(sum(nc) AS DOUBLE) / CAST(NULLIF(sum(ns), 0) AS DOUBLE), 6)
               AS chars_per_subword_r,
             round(CAST(sum(ns) AS DOUBLE) / CAST(NULLIF(sum(nw), 0) AS DOUBLE), 6)
               AS fertility_r
      FROM d GROUP BY lang ORDER BY lang
    """)) { (spark, dir) =>
    tbl(spark, dir, "documents")
      .select(col("lang"),
        length(col("text")).cast(LongType).as("nc"),
        size(filter(toks(lower(col("text"))), x => length(x) > 0))
          .cast(LongType).as("nw"),
        docSubwords(col("text")).as("ns"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chars"),
        sum(col("nw")).as("n_words"),
        sum(col("ns")).as("n_subwords"))
      .select(col("lang"), col("n_docs"), col("n_chars"), col("n_words"), col("n_subwords"),
        round(when(col("n_subwords") > 0L,
          col("n_chars").cast(DoubleType) / col("n_subwords").cast(DoubleType)), 6)
          .as("chars_per_subword_r"),
        round(when(col("n_words") > 0L,
          col("n_subwords").cast(DoubleType) / col("n_words").cast(DoubleType)), 6)
          .as("fertility_r"))
      .orderBy("lang")
  }

  /** t27 — LENGTH-BUCKETED BATCH SHAPING with padding-waste accounting:
    * the complement of [[tPackSequences]]' concatenate-and-split layout.
    * Bucketing pads every sequence up to its bucket cap (width 16 here)
    * and keeps documents intact; the cost is the padding. This gate
    * produces the decision table — per bucket: population, real tokens,
    * tokens-as-padded, waste, utilization — so "pack vs pad" is settled
    * by arithmetic instead of folklore. All-integer except the final
    * utilization ratio (exact int/int division, rounded once).
    *
    * Shape at 100 TB: one map pass (token count → bucket id) into a
    * map-side-combinable sum over ~⌈maxlen/16⌉ groups; output rows scale
    * with the LENGTH RANGE, never the corpus. */
  val tLengthBuckets: QueryDef = QueryDef(
    "t_length_buckets",
    Some("""
      WITH d AS (
        SELECT CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS nt
        FROM documents)
      SELECT nt // 16 AS bucket,
             CAST((nt // 16 + 1) * 16 AS BIGINT) AS bucket_cap,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens,
             CAST((nt // 16 + 1) * 16 * count(*) - sum(nt) AS BIGINT) AS pad_waste,
             round(CAST(sum(nt) AS DOUBLE)
                   / CAST((nt // 16 + 1) * 16 * count(*) AS DOUBLE), 6) AS util_r
      FROM d GROUP BY bucket ORDER BY bucket
    """)) { (spark, dir) =>
    val bucket = floor(col("nt") / lit(16L)).cast(LongType)
    tbl(spark, dir, "documents")
      .select(size(toks(col("text"))).cast(LongType).as("nt"))
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .select(col("bucket"),
        ((col("bucket") + 1L) * 16L).as("bucket_cap"),
        col("n_docs"), col("n_tokens"),
        ((col("bucket") + 1L) * 16L * col("n_docs") - col("n_tokens")).as("pad_waste"),
        round(col("n_tokens").cast(DoubleType)
          / ((col("bucket") + 1L) * 16L * col("n_docs")).cast(DoubleType), 6)
          .as("util_r"))
      .orderBy("bucket")
  }

  /** t29 — HYBRID RETRIEVAL with reciprocal-rank fusion (the standard
    * two-tower read path of a RAG / decontamination / topical-lookup
    * stack: a lexical BM25 arm catches exact-term matches the embedding
    * misses, the semantic arm catches paraphrases the lexicon misses,
    * and RRF fuses the two WITHOUT score calibration — ranks are
    * comparable where raw scores never are). The query is document
    * [[Similarity.Q1]] itself ("find documents related to this one" —
    * the same query both arms can serve):
    *   - LEXICAL arm: the query doc's 5 most DISTINCTIVE terms (lowest
    *     document frequency with df ≥ 2 so each term has at least one
    *     match beyond the query; ties on the term), BM25-scored with
    *     [[tBm25Rank]]'s exact discipline — rational un-logged RSJ idf,
    *     k1=1.2 / b=0.75 saturation, per-(doc, term) contribution
    *     quantized to 1e-6 fixed-point so per-doc sums are exact
    *     integers — query doc excluded, top-20 by (score, doc_id).
    *   - SEMANTIC arm: exact cosine against the query doc's embedding
    *     (vec_id ≡ doc_id in the corpus), self excluded, top-20 by
    *     (dot, vec_id) — the sequential IEEE fold both engines share.
    *   - FUSION: RRF with the canonical k=60, fixed-point
    *     `floor(1e12 / (60 + rank))` per list so the fused score is an
    *     exact integer sum; docs in one list only keep their single
    *     rank's share; final top-10 by (rrf_fp, doc_id). A lexical hit with no
    *     embedding row fuses on its lexical rank alone (at sf0.1 docs
    *     outnumber embeddings — exactly the partially-embedded corpus a
    *     live pipeline serves mid-backfill).
    *
    * Shape at 100 TB: the lexical arm is [[tBm25Rank]]'s one
    * (term, doc) shuffle with the 5-term query and 1-row stats
    * broadcast; the semantic arm is one broadcast query against a
    * map-parallel scan (scalar (id, score) rows only — at corpus scale
    * the candidate generator is the deployed ANN read path instead,
    * same fused contract); fusion itself joins two 20-row frames. */
  /** DuckDB CTE chain for the FULL RRF-fused candidate pool (ends in a
    * `fused(doc_id, lex_rk, sem_rk, rrf_fp)` CTE) — single-texted between
    * [[tHybridRrf]] (top-10 emission) and [[tCrossRerank]] (top-20 re-rank
    * candidates) so the two gates cannot drift on arm or fusion
    * discipline (the bm25 shared-kernel convention). */
  private val hybridFusedCtesSql: String = s"""$bm25CorpusCtesSql,
      q AS (
        SELECT f.term, f.df FROM
          (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term) f
          JOIN (SELECT DISTINCT term FROM tok WHERE doc_id = ${Similarity.Q1}) qt USING (term)
        WHERE f.df >= 2 ORDER BY f.df ASC, f.term LIMIT 5),
      hits AS (
        SELECT t.doc_id,
               $bm25ContribFpSql AS contrib_fp
        FROM tf t JOIN q USING (term) JOIN dl d USING (doc_id) CROSS JOIN stats s
        WHERE t.doc_id <> ${Similarity.Q1}),
      lex AS (
        SELECT doc_id, rn AS lex_rk FROM (
          SELECT doc_id, row_number() OVER (ORDER BY score_fp DESC, doc_id) AS rn
          FROM (SELECT doc_id, CAST(sum(contrib_fp) AS BIGINT) AS score_fp
                FROM hits GROUP BY doc_id))
        WHERE rn <= 20),
      sem AS (
        SELECT doc_id, rn AS sem_rk FROM (
          SELECT e.vec_id AS doc_id,
                 row_number() OVER (ORDER BY ${Similarity.dotSql("e.embedding", "qe.qv")} DESC, e.vec_id) AS rn
          FROM embeddings e,
               (SELECT embedding AS qv FROM embeddings WHERE vec_id = ${Similarity.Q1}) qe
          WHERE e.vec_id <> ${Similarity.Q1})
        WHERE rn <= 20),
      fused AS (
        SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.lex_rk, s.sem_rk,
               coalesce(CAST(floor(1000000000000.0 / (60.0 + l.lex_rk)) AS BIGINT), 0)
                 + coalesce(CAST(floor(1000000000000.0 / (60.0 + s.sem_rk)) AS BIGINT), 0)
                 AS rrf_fp
        FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id)"""

  /** The FULL RRF-fused pool — (doc_id, lex_rk?, sem_rk?, rrf_fp) sorted by
    * (rrf_fp desc, doc_id) — the Spark twin of [[hybridFusedCtesSql]],
    * shared by [[tHybridRrf]] and [[tCrossRerank]]. Each arm is a
    * TakeOrdered of scalar rows (never a global window — at corpus scale
    * that single-partitions the rank); ranks over the bounded 20-row lists
    * and the 20∪20 fusion are driver arithmetic, the simGraphCentrality
    * convention. */
  private def hybridFusedPool(spark: SparkSession, dir: String,
      gate: String): Seq[(Long, Option[Long], Option[Long], Long)] = {
    val qDoc = lit(Similarity.Q1.toLong)
    val embAll = tbl(spark, dir, "embeddings")
      .repartition(spark.sessionState.conf.numShufflePartitions)
    // the query doc must exist in BOTH arms' sources — a smaller corpus
    // would emit a silently degenerate one-arm fusion (the sim-family
    // n >= QHi guard convention)
    require(tbl(spark, dir, "documents").filter(col("doc_id") === qDoc).count() == 1 &&
      embAll.filter(col("vec_id") === qDoc).count() == 1,
      s"$gate needs query doc ${Similarity.Q1} in documents AND embeddings")
    val (tf, dl, stats) = bm25Streams(spark, dir)
    // the query doc's 5 most distinctive matchable terms (tf is already
    // distinct per (term, doc), so the query doc's tf rows ARE its
    // distinct term set)
    val q = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .join(tf.filter(col("doc_id") === qDoc).select("term"), Seq("term"))
      .filter(col("df") >= 2)
      .orderBy(col("df").asc, col("term")).limit(5)
    val lex20 = tf.filter(col("doc_id") =!= qDoc)
      .join(broadcast(q), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), bm25ContribFp.as("contrib_fp"))
      .groupBy("doc_id").agg(sum(col("contrib_fp")).as("score_fp"))
      .orderBy(col("score_fp").desc, col("doc_id")).limit(20)
      .select("doc_id").collect().map(_.getLong(0))
    val qv = embAll.filter(col("vec_id") === qDoc).select(col("embedding").as("qv"))
    val sem20 = embAll.filter(col("vec_id") =!= qDoc).crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        Similarity.dot(col("embedding"), col("qv")).as("s"))
      .orderBy(col("s").desc, col("doc_id")).limit(20)
      .select("doc_id").collect().map(_.getLong(0))
    val lexRk = lex20.zipWithIndex.map { case (d, i) => d -> (i + 1L) }.toMap
    val semRk = sem20.zipWithIndex.map { case (d, i) => d -> (i + 1L) }.toMap
    def rrf(rk: Option[Long]): Long =
      rk.fold(0L)(r => math.floor(1000000000000.0 / (60.0 + r)).toLong)
    (lexRk.keySet ++ semRk.keySet).toSeq
      .map { d =>
        val (l, s) = (lexRk.get(d), semRk.get(d))
        (d, l, s, rrf(l) + rrf(s))
      }
      .sortBy { case (d, _, _, fp) => (-fp, d) }
  }

  val tHybridRrf: QueryDef = QueryDef(
    "t_hybrid_rrf",
    Some(s"""
      WITH $hybridFusedCtesSql
      SELECT doc_id, lex_rk, sem_rk, rrf_fp
      FROM fused
      ORDER BY rrf_fp DESC, doc_id LIMIT 10
    """)) { (spark, dir) =>
    val fused = hybridFusedPool(spark, dir, "t_hybrid_rrf")
      .take(10)
      .map { case (d, l, s, fp) =>
        org.apache.spark.sql.Row(d, l.map(Long.box).orNull, s.map(Long.box).orNull, fp)
      }
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("lex_rk", LongType, nullable = true),
      StructField("sem_rk", LongType, nullable = true),
      StructField("rrf_fp", LongType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(fused: _*), schema)
  }

  /** Cross-encoder max sequence length (code points per side): a real
    * re-ranker truncates both members of the pair to the model's context
    * window; the stub truncates identically so the oracle's
    * `substring(text, 1, $CeMaxCp)` sees the same characters.
    * private[graft] so the spec's reproducibility check recomputes with
    * THIS window instead of a stale literal (r20 review). */
  private[graft] val CeMaxCp = 256

  /** t30 — CROSS-ENCODER RE-RANK of the fused retrieval head (the last
    * stage of a production retrieval stack, Nogueira & Cho 2019: candidate
    * generation → fusion → a pairwise model that reads query and candidate
    * JOINTLY and re-orders the head; the expensive model runs on 20 rows,
    * never the corpus). Candidates are the top-20 of [[tHybridRrf]]'s
    * fused pool — the SAME pool, via the shared [[hybridFusedPool]] /
    * [[hybridFusedCtesSql]] kernels, so re-ranker and fusion cannot drift.
    *
    * The MODEL is a clearly-marked DETERMINISTIC STUB (this sandbox has no
    * inference runtime — the [[tMultimodalDecode]] convention): score =
    * Σ_i cp_q(i)·cp_d(i) over the aligned code points of the pair, both
    * sides truncated to [[CeMaxCp]] code points — a fixed integer
    * "interaction" the oracle replays in `unicode(substring(...))`
    * arithmetic. The Spark-side plumbing is the real shape: bounded
    * candidate frame joined to the document store (broadcast — the head
    * is 20 rows), typed partition-parallel `mapPartitions` with a
    * once-per-partition model-handle site and a fixed-size batch loop,
    * scalar (id, score) rows out.
    *
    * In-gate LAWS: (1) cardinality — the scored set is exactly
    * min(20, |fused pool|) rows (an inner join to documents cannot
    * silently drop a candidate); (2) permutation — re-ranking reorders,
    * never adds or removes; (3) the ordering delta vs the RRF head is
    * QUANTIFIED per row (`moved` = rrf_rank − ce_rank), so "did the
    * re-ranker change anything" is a column, not an eyeball.
    *
    * Shape at 100 TB: the head is bounded by construction (top-20 of a
    * 20∪20 fusion), the document-text fetch is a broadcast semi-join
    * against the doc store, and inference is partition-parallel batch
    * scoring of 20 pairs — the corpus is never touched past candidate
    * generation; ranks over the bounded head are driver arithmetic. */
  /** DuckDB CTE chain of the CE-SCORED candidate head (ends in
    * `ce(doc_id, rrf_rank, ce_fp)`) — single-texted between
    * [[tCrossRerank]] and [[tCeDistill]] so the teacher the re-ranker
    * serves with and the teacher the distillation exports from are one
    * definition. */
  private val ceScoredCtesSql: String = s"""$hybridFusedCtesSql,
      cand AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY rrf_fp DESC, doc_id) AS BIGINT) AS rrf_rank
        FROM fused ORDER BY rrf_fp DESC, doc_id LIMIT 20),
      qt AS (SELECT substring(text, 1, $CeMaxCp) AS t FROM documents
             WHERE doc_id = ${Similarity.Q1}),
      ce AS (
        SELECT c.doc_id, c.rrf_rank,
               CAST(COALESCE(list_sum(list_transform(
                 range(1, least(length(qt.t), length(substring(d.text, 1, $CeMaxCp))) + 1),
                 i -> CAST(unicode(substring(qt.t, i, 1)) AS BIGINT)
                    * CAST(unicode(substring(d.text, i, 1)) AS BIGINT))), 0) AS BIGINT) AS ce_fp
        FROM cand c JOIN documents d USING (doc_id) CROSS JOIN qt)"""

  /** The CE-scored candidate head — (ce_rank, doc_id, rrf_rank, ce_fp)
    * for the top-20 of the fused pool, ALREADY teacher-ranked — the Spark
    * twin of [[ceScoredCtesSql]], shared by [[tCrossRerank]] and
    * [[tCeDistill]]. Carries the cardinality law (the join to the doc
    * store dropped nothing — inner joins shrink silently on BOTH engines,
    * the hash oracle cannot catch it) and the permutation law (scoring
    * neither adds nor removes). The (ce_fp DESC, doc_id) rank lives HERE
    * (r20 ADVICE): one construction, so the teacher the re-ranker serves
    * with and the ranks the distillation exports from cannot
    * desynchronize on a tie-break edit.
    *
    * Memoized per (session, corpus snapshot): the head is a 20-tuple
    * driver value whose candidate generation + CE scoring was being
    * re-paid by the second consumer every pass; at 100 TB the head is the
    * per-query artifact a serving tier caches after the re-rank stage. */
  private def ceScoredHead(spark: SparkSession, dir: String,
      gate: String): Seq[(Long, Long, Long, Long)] =
    core.snapshotMemo(spark, "memo:ce_head", dir, "documents", "embeddings")(
      ceScoredHeadCompute(spark, dir, gate))

  private def ceScoredHeadCompute(spark: SparkSession, dir: String,
      gate: String): Seq[(Long, Long, Long, Long)] = {
    import spark.implicits._
    val pool = hybridFusedPool(spark, dir, gate)
    val cand = pool.take(20).zipWithIndex
      .map { case ((d, _, _, _), i) => (d, i + 1L) }
    // broadcast query truncated to the model window, code points (DuckDB
    // length/substring count characters = code points, never UTF-16 units)
    val qCp = tbl(spark, dir, "documents")
      .filter(col("doc_id") === lit(Similarity.Q1.toLong))
      .select("text").head().getString(0)
      .codePoints().limit(CeMaxCp).toArray
    val withText = tbl(spark, dir, "documents")
      .join(broadcast(cand.toDF("doc_id", "rrf_rank")), Seq("doc_id"))
      .select(col("doc_id"), col("rrf_rank"), col("text"))
      .as[(Long, Long, String)]
    val scored = withText.mapPartitions { items =>
      // a real cross-encoder would load its model handle HERE, once per
      // partition, and push the pairs through in fixed-size batches; the
      // batch loop is kept so the plumbing matches real inference
      items.grouped(8).flatMap { batch =>
        batch.map { case (id, rrfRk, text) =>
          val cp = text.codePoints().limit(CeMaxCp).toArray
          val n = math.min(qCp.length, cp.length)
          var s = 0L
          var i = 0
          while (i < n) { s += qCp(i).toLong * cp(i).toLong; i += 1 }
          (id, rrfRk, s)
        }
      }
    }.collect()
    require(scored.length == cand.length,
      s"$gate: scored ${scored.length} of ${cand.length} candidates — " +
        "a candidate is missing from documents")
    require(scored.map(_._1).sorted.sameElements(cand.map(_._1).sorted),
      s"$gate: scored ids are not a permutation of the candidate head")
    // the ONE teacher-rank construction (ce_fp DESC, doc_id) both
    // consumers read — hoisted from the gates (r20 ADVICE)
    scored.toSeq.sortBy { case (id, _, s) => (-s, id) }.zipWithIndex
      .map { case ((id, rrfRk, s), i) => (i + 1L, id, rrfRk, s) }
  }

  val tCrossRerank: QueryDef = QueryDef(
    "t_cross_rerank",
    Some(s"""
      WITH $ceScoredCtesSql
      SELECT CAST(row_number() OVER (ORDER BY ce_fp DESC, doc_id) AS BIGINT) AS ce_rank,
             doc_id, ce_fp, rrf_rank,
             rrf_rank - CAST(row_number() OVER (ORDER BY ce_fp DESC, doc_id) AS BIGINT) AS moved
      FROM ce ORDER BY ce_rank
    """)) { (spark, dir) =>
    import spark.implicits._
    val rows = ceScoredHead(spark, dir, "t_cross_rerank")
      .map { case (ceRank, id, rrfRk, s) => (ceRank, id, s, rrfRk, rrfRk - ceRank) }
    rows.toDF("ce_rank", "doc_id", "ce_fp", "rrf_rank", "moved")
      .orderBy("ce_rank")
  }

  /** How many CE-top candidates the distillation treats as positives and
    * how deep the negative band starts — the classic "top of the head vs
    * tail of the head" split a margin-distillation recipe uses. */
  private[graft] val CeDistillPos = 4
  private[graft] val CeDistillNegFrom = 11

  /** t31 — CROSS-ENCODER DISTILLATION EXPORT (the training-data product
    * of the re-rank stage: a bi-encoder student learns from the
    * cross-encoder teacher's MARGINS over retrieved candidates — the
    * margin-distillation recipe of Hofstätter et al. 2020 and
    * RocketQA/TCT-ColBERT lineage; this closes the suite's retrieval
    * loop: mine → fuse → re-rank → EXPORT what trains the next student).
    * Over [[tCrossRerank]]'s CE-scored head (the SAME head — shared
    * [[ceScoredHead]]/[[ceScoredCtesSql]] kernels, so teacher and export
    * cannot drift): positives = CE ranks 1..[[CeDistillPos]], negatives =
    * ranks [[CeDistillNegFrom]]..20 (in-head hard negatives — ranked high
    * by retrieval, rejected by the teacher — exactly the negatives that
    * teach a student the most), one row per (pos, neg) pair with the
    * exact integer teacher margin ce_pos − ce_neg. LAWS in-gate: the
    * export is exactly |pos|·|neg| rows (cardinality — a vanished pair is
    * invisible to a hash over survivors); every margin ≥ 0 (positives
    * outrank negatives BY CONSTRUCTION — rank is (ce_fp DESC, doc_id), so
    * a negative can never carry a higher teacher score); pos ∩ neg = ∅.
    * Shape at 100 TB: pure driver arithmetic over the bounded 20-row
    * head; at corpus scale the same export runs per query as a map over
    * per-query heads (the [[simTripletExport]] sharding convention), the
    * teacher being the expensive per-pair model call this stub stands in
    * for. */
  val tCeDistill: QueryDef = QueryDef(
    "t_ce_distill",
    Some(s"""
      WITH $ceScoredCtesSql,
      ranked AS (
        SELECT doc_id, ce_fp,
               CAST(row_number() OVER (ORDER BY ce_fp DESC, doc_id) AS BIGINT) AS ce_rank
        FROM ce)
      SELECT p.ce_rank AS pos_rank, n.ce_rank AS neg_rank,
             p.doc_id AS pos_id, n.doc_id AS neg_id,
             p.ce_fp - n.ce_fp AS margin_fp
      FROM ranked p, ranked n
      WHERE p.ce_rank <= $CeDistillPos AND n.ce_rank >= $CeDistillNegFrom
      ORDER BY pos_rank, neg_rank
    """)) { (spark, dir) =>
    import spark.implicits._
    val ranked = ceScoredHead(spark, dir, "t_ce_distill")
      .map { case (ceRank, id, _, s) => (ceRank, id, s) }
    val pos = ranked.filter(_._1 <= CeDistillPos)
    val neg = ranked.filter(_._1 >= CeDistillNegFrom)
    val rows = for ((pr, pid, ps) <- pos; (nr, nid, ns) <- neg)
      yield (pr, nr, pid, nid, ps - ns)
    // cardinality: the export is the full pos × neg grid, and the teacher
    // margin is non-negative by rank construction
    require(rows.length == pos.length * neg.length,
      s"t_ce_distill: exported ${rows.length} of ${pos.length * neg.length} pairs")
    require(rows.forall(_._5 >= 0L),
      "t_ce_distill: a negative outranked a positive (margin < 0)")
    require(pos.map(_._2).toSet.intersect(neg.map(_._2).toSet).isEmpty,
      "t_ce_distill: positive and negative bands overlap")
    rows.toDF("pos_rank", "neg_rank", "pos_id", "neg_id", "margin_fp")
      .orderBy("pos_rank", "neg_rank")
  }

  val all: Seq[QueryDef] = Seq(
    tTokenStats, tQualityScore, tLangId, tFingerprint, tMultimodalMeta,
    tMultimodalDecode, tMultimodalFrames, tMultimodalResize, tStratifiedSample,
    tLineDedup, tBoilerplateCorpus, tCorpusFilter, tPackSequences, tMixtureSample,
    tMixtureEpochs,
    tRepetitionStats, tSalientTerms, tChunkWindows, tPiiRedact, tDecontaminate,
    tShuffleExport, tRarityScore, tTokenSubword, tPackSubword, tInvertedPostings,
    tBm25Rank, tTokenizerEval, tLengthBuckets, tHybridRrf, tCrossRerank,
    tCeDistill)
}
