package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{EventTime, GraftFunctions}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.StreamingIngest
import CrawlRegistry.{crawlTrapsOracleSql, trapFixturePages, anchorOracleSql,
  feedSeedsOracleSql, robotsGateOracleSql}
import DedupRegistry.{erRecords, erEntitiesOracleSql}
import MultimodalRegistry.{syntheticMediaFeatures, htmlLinksOracleSql,
  htmlImagePairsOracleSql, htmlMarkdownOracleSql, htmlTablesOracleSql,
  htmlTableRows, htmlLinksRows, htmlImageRows, htmlMarkdownRows,
  multimodalFeaturesSql}
import QualityRegistry.nbOracleSql
import RelationalRegistry.{rateAnomalySql, paretoFrontOracleSql}
import SimilarityRegistry.annContractOracleSql
import SketchRegistry.{mgSummaryOracleSql, cmsExactRegimeSql,
  hllNativeExactRegimeSql}
import StorageRegistry.jsonlSourceOracleSql
import TextRegistry.{syntheticPageText, textExtractOracleSql,
  textKeywordsOracleSql, textPmiOracleSql}
import TrainPrepRegistry.{interleavedDocsOracleSql, interleavedPackOracleSql,
  sftAssembleOracleSql, sftAssembleTokensOracleSql, packFfdStatsOracleSql,
  sftBonOracleSql, prefPairsOracleSql, htmlInterleavedRows, sftAssembleTurns,
  prefCandidates, sftAssembleProjected, sftTokenAssembleProjected,
  dsirWeightsOracleSql}

/** Stream query/oracle registry — one slice of the driver contract
  * surface, split out of the former 15k-line SparkEntry monolith so a
  * duplicated query-name literal can never silently shadow a pair out
  * of the sweep again (the round-17 q_text_chunks incident).
  * Each query's lambda, fixtures and oracle text live here; a helper
  * that a streaming twin or another family also uses is
  * `private[registry]` in its batch query's registry. Composed — with
  * a cross-registry duplicate guard — in [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]]. */
private[graft] object StreamRegistry extends QueryRegistry {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The same PMI with the pair counts run as streaming state: exact
    // sum-mergeable integers ⇒ stream ≡ batch IDENTICALLY, so this shares
    // the batch oracle verbatim (full hash gate, no tolerance) — the
    // q_stream_anomalies / q_stream_auc pattern.
    "q_stream_pmi" -> ((s, dir) =>
      StreamingIngest.runStreamPmiBounded(s, s"$dir/documents.parquet",
        "text", minCount = 5, topK = 100)),


    // The same keyword extraction with the (cls, term) counts as
    // streaming state: exact sum-mergeable integers ⇒ stream ≡ batch
    // identically, sharing the batch oracle verbatim (full hash gate).
    "q_stream_keywords" -> ((s, dir) =>
      StreamingIngest.runStreamKeywordsBounded(s, s"$dir/documents.parquet",
        "lang", "text", minCount = 5, topK = 20)
        .orderBy(col("cls"), col("odds_ppm").desc, col("a").desc, col("term"))),


    // STREAMING HTML→text extraction: pages arrive in micro-batches and
    // are boilerplate-stripped on arrival — extraction is a pure per-row
    // function, so the bounded stream shares the batch q_text_extract
    // oracle VERBATIM (full hash gate, no tolerance).
    "q_stream_text_extract" -> ((s, dir) => {
      val src = Scratch.path(dir, "tx_src")
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(4).write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamRowMapBounded(s, src,
          syntheticPageText, keyCols = Seq("doc_id"))
        .orderBy(col("doc_id"))
    }),


    // STREAMING twin of the link extraction — anchors parsed per
    // micro-batch (per-row projection, exploding): stream ≡ batch
    // VERBATIM, so it shares q_html_links' oracle unchanged.
    "q_stream_links" -> ((s, dir) => {
      val src = Scratch.path(dir, "lk_src")
      t(s, dir, "documents").select(col("doc_id"), col("source"))
        .repartition(4).write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamRowMapBounded(s, src,
          htmlLinksRows, Seq("doc_id", "idx"))
        .orderBy(col("doc_id"), col("idx"))
    }),


    // STREAMING twin of the pair extraction — per-row projection, so
    // stream ≡ batch VERBATIM and it shares q_image_text_pairs' oracle.
    "q_stream_images" -> ((s, dir) => {
      val src = Scratch.path(dir, "im_src")
      t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
        .repartition(4).write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamRowMapBounded(s, src,
          htmlImageRows, Seq("doc_id", "idx"))
        .orderBy(col("doc_id"), col("idx"))
    }),


    // STREAMING twin of the FFD manifest — shards are INDEPENDENT by
    // construction (bins never span shards), so a source range-
    // partitioned on the shard key gives shard-complete micro-batches
    // and the per-batch fold equals the global per-shard fold exactly;
    // the grouped runner's batch-id check fails loudly on a split
    // shard. Shares q_pack_ffd_stats' oracle verbatim.
    "q_stream_ffd" -> ((s, dir) => {
      val src = Scratch.path(dir, "ffd_src")
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(filter(split(col("text"), "\\s+"), x => x =!= ""))
            .cast("long").as("n_tok"),
          (operators.Sampling.knuthSlot32(col("doc_id")) % 8)
            .as("shard"))
        .repartitionByRange(4, col("shard"))
        .write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamGroupedBounded(s, src,
          batch => operators.Packing.ffdStats(
            operators.Packing.ffdPack(batch.drop("shard"), "doc_id",
              "n_tok", capacity = 256L, shards = 8), capacity = 256L),
          Seq("shard", "bin"))
        .orderBy(col("shard"), col("bin"))
    }),


    // STREAMING twin of the interleaved extraction — per-row
    // projection, so stream ≡ batch VERBATIM and it shares
    // q_interleaved_docs' oracle.
    "q_stream_interleaved" -> ((s, dir) => {
      val src = Scratch.path(dir, "il_src")
      t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
        .repartition(4).write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamRowMapBounded(s, src,
          htmlInterleavedRows, Seq("doc_id", "pos"))
        .orderBy(col("doc_id"), col("pos"))
    }),


    // STREAMING twin of the assembly — turns arrive in micro-batches
    // whose files are RANGE-partitioned on the conversation key, so
    // every conversation lands whole in one batch and the per-batch
    // aggregation unions to the global result exactly (the
    // group-complete-file contract of runStreamGroupedBounded). Shares
    // q_sft_assemble's oracle verbatim.
    "q_stream_sft" -> ((s, dir) => {
      val src = Scratch.path(dir, "sft_src")
      sftAssembleTurns(s, dir).repartitionByRange(4, col("conv_id"))
        .write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamGroupedBounded(s, src,
          sftAssembleProjected, Seq("conversation_id", "turn_idx"))
        .orderBy(col("conversation_id"), col("turn_idx"))
    }),


    // STREAMING twin of the token-space assembly — same grouped-runner
    // contract as q_stream_sft (conversation-complete micro-batches,
    // batch-id check). Shares q_sft_assemble_tokens' oracle verbatim.
    // STREAMING twin of the video near-dup — the two-stage shape applied
    // to the new modality: the HEAVY half (payload synthesis + full
    // pixel decode + per-frame dHash) is a pure per-row projection and
    // runs per micro-batch under the row-map contract; only the banded
    // pairing + rollup — whose input is the tiny (media_id, dhash)
    // signature frame — runs as the bounded epilogue. Shares
    // q_video_neardup's oracle verbatim.
    "q_stream_video_neardup" -> ((s, dir) => {
      val src = Scratch.path(dir, "vnd_src")
      t(s, dir, "documents").select(col("doc_id"))
        .repartition(4).write.mode("overwrite").parquet(src)
      val frames = streaming.StreamingIngest.runStreamRowMapBounded(s, src,
        batch => MultimodalRegistry.videoFrameSigs(s, batch),
        Seq("media_id", "frame_idx"))
      operators.Multimodal.signatureNearDupPairs2(frames, "media_id",
          "dhash", "vhash", maxHamming = 6)
        .orderBy(col("idA"), col("idB"))
    }),


    // STREAMING twin of the bitext margin miner: scoring is a per-
    // tgt-row pure projection against the BROADCAST (bounded) src side
    // — each corpus row maps to its |S| candidate cosines independently
    // — so it runs per micro-batch under the row-map contract, and only
    // the margin arithmetic over the tiny (src, tgt, c_ppm) candidate
    // frame runs as the bounded epilogue. Shares q_bitext_mine's oracle
    // verbatim.
    "q_stream_bitext_mine" -> ((s, dir) => {
      val srcPath = Scratch.path(dir, "btm_src")
      t(s, dir, "embeddings").repartition(4)
        .write.mode("overwrite").parquet(srcPath)
      val srcSide = SimilarityRegistry.bitextSrc(t(s, dir, "embeddings"))
      val scored = streaming.StreamingIngest.runStreamRowMapBounded(s, srcPath,
        batch => operators.Similarity.bitextScore(srcSide, batch),
        Seq("src_id", "tgt_id"))
      operators.Similarity.marginMine(scored, k = 4, minMarginPpm = 1050000L)
        .orderBy(col("src_id"))
    }),


    // STREAMING twin of the audio near-dup matcher — same split as the
    // video twin: the heavy half (payload synthesis + WAV parse +
    // energy-delta fingerprints) is a pure per-row projection and runs
    // per micro-batch under the row-map contract; only the banded
    // pairing over the tiny signature frame runs as the bounded
    // epilogue. Shares q_audio_neardup's oracle verbatim.
    "q_stream_audio_neardup" -> ((s, dir) => {
      val src = Scratch.path(dir, "and_src")
      t(s, dir, "documents").select(col("doc_id"))
        .repartition(4).write.mode("overwrite").parquet(src)
      val sigs = streaming.StreamingIngest.runStreamRowMapBounded(s, src,
        batch => MultimodalRegistry.audioSegSigs(s, batch),
        Seq("media_id", "seg_idx"))
      operators.Multimodal.signatureNearDupPairs2(sigs, "media_id", "fp",
          "fp2", maxHamming = 6)
        .orderBy(col("idA"), col("idB"))
    }),


    // STREAMING twin of the interleaved multimodal packing — the
    // two-stage shape: the GROUP-LOCAL half (per-document item
    // collection + in-document offsets) runs per micro-batch under the
    // grouped-runner contract (documents arrive whole — the source is
    // range-partitioned on doc_id; a split document fails the batch-id
    // check loudly), and ONLY the global placement — the distributed
    // prefix sum over the tiny (doc_id, n_tokens) aggregates plus the
    // explode — runs as the bounded epilogue. Shares q_interleaved_pack's
    // oracle verbatim.
    "q_stream_interleaved_pack" -> ((s, dir) => {
      val src = Scratch.path(dir, "ilp_src")
      t(s, dir, "documents").select(col("doc_id"), col("source"), col("text"))
        .repartitionByRange(4, col("doc_id"))
        .write.mode("overwrite").parquet(src)
      val perDoc = streaming.StreamingIngest.runStreamGroupedBounded(s, src,
        batch => operators.Packing.collectInterleavedDocs(
          htmlInterleavedRows(batch).withColumn("__graft_cost",
            operators.Packing.interleavedCost("kind", "text",
              imageBudget = 64L)),
          "doc_id", "pos", "kind", "__graft_cost"),
        Seq("doc_id"))
      operators.Packing.placeInterleavedDocs(perDoc, capacity = 512L)
        .orderBy(col("doc_id"), col("pos"))
    }),


    "q_stream_sft_tokens" -> ((s, dir) => {
      val src = Scratch.path(dir, "sftt_src")
      sftAssembleTurns(s, dir).repartitionByRange(4, col("conv_id"))
        .write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamGroupedBounded(s, src,
          sftTokenAssembleProjected, Seq("conversation_id", "turn_idx"))
        .orderBy(col("conversation_id"), col("turn_idx"))
    }),


    // STREAMING twin of the preference pairs — candidates arrive in
    // micro-batches RANGE-partitioned on the prompt key, so every
    // prompt's candidate set lands whole in one batch and the per-batch
    // struct-min/max aggregate unions to the global result exactly
    // (runStreamGroupedBounded's batch-id contract check fails loudly
    // otherwise). Shares q_pref_pairs' oracle verbatim.
    "q_stream_pref_pairs" -> ((s, dir) => {
      val src = Scratch.path(dir, "pref_src")
      prefCandidates(s, dir).repartitionByRange(4, col("prompt_id"))
        .write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamGroupedBounded(s, src,
          batch => operators.Sft.preferencePairs(batch, "prompt_id",
            "cand_id", "text", "score"), Seq("prompt_id"))
        .orderBy(col("prompt_id"))
    }),


    // STREAMING twin of the best-of-n export — the same grouped-runner
    // contract as q_stream_pref_pairs: prompt-complete micro-batches
    // make the per-batch rank window exact, and the batch-id check
    // fails loudly on a split prompt. Shares q_sft_bon's oracle.
    "q_stream_bon" -> ((s, dir) => {
      val src = Scratch.path(dir, "bon_src")
      prefCandidates(s, dir).repartitionByRange(4, col("prompt_id"))
        .write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamGroupedBounded(s, src,
          batch => operators.Sft.bestOfN(batch, "prompt_id", "cand_id",
            "text", "score", k = 3), Seq("prompt_id", "rank"))
        .orderBy(col("prompt_id"), col("rank"))
    }),


    // STREAMING twin of the markdown rendering — per-row projection,
    // stream ≡ batch VERBATIM, shared oracle.
    "q_stream_markdown" -> ((s, dir) => {
      val src = Scratch.path(dir, "md_src")
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(4).write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamRowMapBounded(s, src,
          htmlMarkdownRows, Seq("doc_id"))
        .orderBy(col("doc_id"))
    }),


    // STREAMING twin of the table extraction — cells parsed per
    // micro-batch (pure row map): stream ≡ batch verbatim, shares
    // q_html_tables' oracle unchanged.
    "q_stream_tables" -> ((s, dir) => {
      val src = Scratch.path(dir, "tb_src")
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(4).write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamRowMapBounded(s, src,
          htmlTableRows, Seq("doc_id", "t", "r", "c"))
        .orderBy(col("doc_id"), col("t"), col("r"), col("c"))
    }),


    // STREAMING twin: pages micro-batched one file per trigger, the
    // per-template state two bounded k-smallest-hash sets, ledger
    // derivation shared verbatim with the batch sketch form — KMV state
    // is a set function, so stream ≡ batch bit-exactly and the batch
    // oracle gates the stream.
    "q_stream_traps" -> ((s, dir) => {
      StreamingIngest.runStreamTrapLedger(s, s"$dir/documents.parquet",
          trapFixturePages, "url", "fp", k = 4096, minUrls = 10,
          maxDiversity = 0.2)
        .orderBy(col("template"))
    }),


    // STREAMING anchor aggregation: link records arrive in micro-batches
    // and accumulate into the standing link set; anchor frequencies and
    // inlink totals are pure aggregates of that set, so arrival order
    // cannot matter and the bounded stream shares the batch oracle
    // VERBATIM.
    "q_stream_anchor_texts" -> ((s, dir) => {
      val src = Scratch.path(dir, "anchor_src")
      val docs = t(s, dir, "documents")
      val n = docs.count()
      docs.select(col("doc_id").as("src"),
          array_join(slice(split(col("text"), " "), 1, 3), " ").as("anchor"),
          explode(array((0 until 3).map(j =>
            (col("doc_id") * 7 + lit(j * 11)) % lit(n)): _*)).as("dst"))
        .repartition(4).write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamAnchorsBounded(s, src, k = 2)
        .select(col("dst"), col("rank"), col("anchor"), col("freq"),
          col("n_srcs"), col("n_inlinks"))
        .orderBy(col("dst"), col("rank"))
    }),


    // STREAMING politeness gate: URLs arrive in micro-batches, decided
    // on arrival against the static decision table — the gate is a
    // stream-static broadcast join + row-local fold (no state, no
    // stream-side shuffle), so the bounded stream shares the batch
    // q_robots_gate oracle VERBATIM.
    "q_stream_robots_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val robots = docs.select(col("source")).distinct()
        .withColumn("domain", concat(col("source"), lit(".example.com")))
        .withColumn("k",
          regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 25)
        .select(col("domain"),
          operators.RobotsTxt.syntheticRobots(col("domain"), col("k"))
            .as("txt"))
      val rules = operators.RobotsTxt.parseRules(robots, "domain", "txt")
      val src = Scratch.path(dir, "rg_src")
      docs.select(col("doc_id"),
          concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
            (col("doc_id") % 25).cast("string"), lit("/?utm_source="),
            col("lang")).as("url"))
        .unionByName(docs.select(col("source")).distinct()
          .select((lit(-1L) - regexp_extract(col("source"), "(\\d+)", 1)
              .cast("long")).as("doc_id"),
            concat(lit("https://www."), col("source"), lit(".example.com"))
              .as("url")))
        .repartition(4).write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamRobotsGateBounded(s, src, "doc_id",
          rules, "graftbot")
        .select(col("doc_id"), col("url"), col("domain"), col("path"),
          col("allowed"), col("matched_path"), col("matched_allow"))
        .orderBy(col("doc_id"))
    }),


    // STREAMING discovery: the same per-site feed documents arrive in
    // micro-batches; each batch parses per-row and anti-joins the
    // STATIC crawled set on arrival (stream-static, the robots-gate
    // shape — no state store, no stream-side shuffle), and the
    // per-domain seed rank is a pure window over the accumulated
    // survivors, so the bounded stream shares the q_feed_seeds oracle
    // VERBATIM.
    "q_stream_seeds" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val src = docs.select(col("source")).distinct()
        .withColumn("domain", concat(col("source"), lit(".example.com")))
        .withColumn("k",
          regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 25)
      val feeds = src.select(col("domain"),
        when(col("k") % 2 === 0,
          operators.Feeds.syntheticRss(col("domain"), col("k"), 0, 6))
          .otherwise(
            operators.Feeds.syntheticAtom(col("domain"), col("k"), 0, 6))
          .as("xml"))
      val crawled = docs.select(concat(lit("https://www."), col("source"),
        lit(".example.com/docs/"), (col("doc_id") % 25).cast("string"))
        .as("url")).distinct()
      val srcPath = Scratch.path(dir, "seeds_src")
      feeds.repartition(4).write.mode("overwrite").parquet(srcPath)
      streaming.StreamingIngest.runStreamSeedsBounded(s, srcPath, "xml",
          "domain", crawled, "url")
        .select(col("domain"), col("feed_kind"), col("loc"),
          col("lastmod"), col("seed_rank"))
        .orderBy(col("domain"), col("seed_rank"))
    }),


    // STREAMING dirty-JSONL ingestion: the same truncated-line dump
    // arrives file by file and is parsed ON THE STREAM by Spark's native
    // JSON file source (PERMISSIVE, corrupt-record capture) — parsing is
    // pure per-row, so the bounded stream shares the batch
    // q_jsonl_source oracle VERBATIM.
    "q_stream_jsonl_source" -> ((s, dir) => {
      val src = Scratch.path(dir, "jsonlstr")
      t(s, dir, "documents").select(col("doc_id"),
          to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
            .as("value"))
        .select(
          when(col("doc_id") % 50 === 13,
            expr("substring(value, 1, length(value) - 8)"))
            .otherwise(col("value")).as("value"))
        .repartition(4)
        .write.mode("overwrite").text(src)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("lang", "string").add("n_chars", "long")
      streaming.StreamingIngest.runStreamJsonlBounded(s, src, schema)
        .select(
          coalesce(col("doc_id"),
            regexp_extract(col("_corrupt_record"), "\"doc_id\":(\\d+)", 1)
              .cast("long")).as("rec_id"),
          col("doc_id"), col("lang"), col("n_chars"),
          col("_corrupt_record").isNotNull.as("is_corrupt"),
          col("_corrupt_record").as("raw"))
        .orderBy(col("rec_id"))
    }),


    // STREAMING model-quality monitoring: the same tie-aware AUC with the
    // (group, score) count grid as streaming state — exact sums merge
    // across micro-batches, the rank walk runs over the final state via
    // the shared batch code path. Exact integers ⇒ stream ≡ batch
    // IDENTICALLY, so this streaming query is FULLY hash-oracled by the
    // plain batch SQL (like q_stream_anomalies — no tolerance gate).
    "q_stream_auc" -> ((s, dir) =>
      StreamingIngest.runStreamAucBounded(s, s"$dir/events.parquet",
        pmod(col("user_id"), lit(3)), floor(col("value") * 1000),
        col("event_type") === "purchase")
        .orderBy(col("grp"))),


    // STREAMING entity resolution: the same records arrive in 4
    // micro-batches; each delta is block-keyed once and matched against
    // the standing index only (never corpus-vs-corpus), entities
    // finalize through the shared CC path — stream ≡ batch verbatim, so
    // this streaming query carries q_er_entities' FULL hash oracle.
    "q_stream_er" -> ((s, dir) => {
      val src = Scratch.path(dir, "er_src")
      erRecords(s, dir).repartition(4).write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamErBounded(s, src, "rec_id", "name",
          maxDist = 1)
        .select(col("id").as("rec_id"), col("entity_id"), col("canonical"))
        .orderBy(col("rec_id"))
    }),


    // STREAMING skyline: the standing FRONT is the entire cross-batch
    // state (dominance merges — front(A∪B) = front(front(A)∪B), by
    // transitivity), each batch folding through the SAME batch operator
    // code. Stream ≡ batch verbatim ⇒ q_pareto_front's full hash oracle.
    "q_stream_pareto" -> ((s, dir) => {
      val src = Scratch.path(dir, "pareto_src")
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          explode(operators.Dedup.cleanTokens(col("text"))).as("__tok"))
        .groupBy(col("doc_id"), col("n_chars"))
        .agg(countDistinct(col("__tok")).as("__vocab"),
          count(lit(1)).as("__total"))
        .select(col("doc_id"), col("n_chars"),
          expr("(1000000 * __vocab) div __total").as("diversity_ppm"))
        .repartition(4).write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamParetoBounded(s, src,
          "n_chars", "diversity_ppm")
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("diversity_ppm"))
        .orderBy(col("doc_id"))
    }),


    // Streaming multimodal ingest: per-batch header-parse + feature
    // extraction of arriving binary payloads — pure per-row work, so the
    // bounded stream hash-matches the batch oracle verbatim.
    "q_stream_multimodal" -> ((s, dir) => {
      val src = Scratch.path(dir, "mm_src")
      t(s, dir, "documents").select(col("doc_id"))
        .repartition(4).write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamRowMapBounded(s, src,
          syntheticMediaFeatures, keyCols = Seq("media_id"))
        .orderBy(col("media_id"))
    }),


    "q_stream_hourly" -> ((s, dir) =>
      StreamingIngest.runWindowedEventAgg(s, s"$dir/events.parquet")
        .orderBy(col("window_start"), col("event_type"))),


    // Stream-stream interval join (attribution): purchase within 2h of a
    // view, same user — both sides unbounded, state bounded by the
    // interval via watermarks. Inner matches emit immediately; the batch
    // inequality join is the exact oracle.
    "q_stream_join" -> ((s, dir) =>
      StreamingIngest.runAttributionBounded(s, s"$dir/events.parquet",
        windowMicros = 7200000000L)
        .orderBy(col("user_id"), col("view_event_id"), col("purchase_event_id"))),


    // Stateful streaming dedup (flatMapGroupsWithState): emitted KEYS equal
    // batch DISTINCT regardless of which representative row survives, so
    // the key stream is DuckDB-oracle-able; the cross-micro-batch state
    // semantics are spec-checked in OperatorsSpec.
    "q_stream_dedup" -> ((s, dir) => {
      val path = s"$dir/documents.parquet"
      val schema = s.read.parquet(path).schema
      val stream = s.readStream.schema(schema).parquet(path + "*")
      val keyed = stream.select(
        array_join(slice(split(trim(lower(col("text"))), "\\s+"), 1, 5), " ").as("key5"))
      StreamingIngest.memorySnapshot(StreamingIngest.streamingDedup(keyed, "key5"), "append")
        .select(col("key5")).orderBy(col("key5"))
    }),


    // Stream-to-serving-table composition: a multi-file event stream is
    // upserted per micro-batch into a parquet table (latest event per user
    // wins), one file per trigger so the merge crosses FOUR batch
    // boundaries; the final table must equal the one-shot batch dedup,
    // which is the oracle. Exactly-once by idempotence — replaying a batch
    // re-merges already-ranked rows (spec-asserted in WarehouseOpsSpec).
    "q_stream_upsert" -> ((s, dir) => {
      val src = Scratch.path(dir, "upsert_src")
      val tbl = Scratch.path(dir, "upsert_tbl")
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .repartition(4)
        .write.mode("overwrite").parquet(src)
      val fs = new org.apache.hadoop.fs.Path(tbl)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(tbl), true)
      streaming.StreamingIngest.runStreamUpsertBounded(s, src, tbl,
        Seq("user_id"), Seq(col("ts").desc, col("event_id").desc),
        maxFilesPerTrigger = 1)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("us"), col("value"))
        .orderBy(col("user_id"))
    }),


    // Streaming MODEL INFERENCE: NB trained on the batch 4/5 split, the
    // held-out fifth scored as a 4-file stream (one file per trigger, so
    // scoring crosses four micro-batch boundaries); the final table must
    // equal the one-shot batch classification, which is the oracle (the
    // exact q_classify_nb SQL).
    "q_stream_classify" -> ((s, dir) => {
      val src = Scratch.path(dir, "clf_src")
      val docs = t(s, dir, "documents")
      docs.filter(col("doc_id") % 5 === 0).repartition(4)
        .write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamClassifyBounded(s,
        docs.filter(col("doc_id") % 5 =!= 0), src, "doc_id", "text", "lang")
        .orderBy(col("doc_id"))
    }),


    // Streaming DSIR: the raw (non-English) corpus arrives as a 4-file
    // stream — feature extraction runs per micro-batch, the B-row
    // distribution state and scores finalize from the accumulated
    // frames. Bucket counts are multiset functions → stream ≡ batch, so
    // the batch q_dsir_weights SQL gates this verbatim (full hash).
    "q_stream_dsir" -> ((s, dir) => {
      val src = Scratch.path(dir, "dsir_src")
      val docs = t(s, dir, "documents")
      docs.filter(col("lang") =!= "en").select(col("doc_id"), col("text"))
        .repartition(4).write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamDsirBounded(s, src,
        docs.filter(col("lang") === "en"), "doc_id", "text", buckets = 4096)
        .orderBy(col("doc_id"))
    }),


    // Streaming CORPUS CURATION: quality gate + incremental exact n-gram
    // dedup per micro-batch with the standing corpus as cross-batch state
    // — the continuously-fed training-corpus shape. A qualifying pair is
    // found exactly when its later member arrives, so the union of
    // per-batch pair ledgers equals the batch pair set and the status of
    // every doc is arrival-order-invariant → gated by the full-hash BATCH
    // oracle (quality rule + q_dedup_ngram's shingle replay), the same
    // stream ≡ batch discipline as q_stream_classify.
    "q_stream_curate" -> ((s, dir) => {
      val src = Scratch.path(dir, "curate_src")
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(4).write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamCurateBounded(s, src,
        "doc_id", "text", minTokens = 20, n = 3, threshold = 0.2)
        .orderBy(col("doc_id"))
    }),


    // Streaming FUZZY curation: quality gate + MinHash near-dup against
    // the standing corpus, with per-batch signatures cached and reused as
    // the corpus index (the genuinely-incremental steady state — the
    // corpus is never re-signed, never banded against itself). MinHash
    // banding is engine-internal → no SQL oracle; gated by the strict
    // stream ≡ batch equality sibling below (exact-dedup relatives:
    // q_stream_curate / q_dedup_minhash's own verified family).
    "q_stream_curate_fuzzy" -> ((s, dir) => {
      val src = Scratch.path(dir, "curatef_src")
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(4).write.mode("overwrite").parquet(src)
      streaming.StreamingIngest.runStreamCurateFuzzyBounded(s, src,
        "doc_id", "text", minTokens = 20, n = 3, k = 64, bands = 16,
        threshold = 0.5)
        .orderBy(col("doc_id"))
    }),


    // The equality gate: the bounded stream's statuses must equal the
    // batch twin VERBATIM (uncapped pair discovery is arrival-order-
    // invariant — see incrementalMinhashPairs; with caps the stream is
    // only a superset, which is why the gate runs uncapped on both
    // sides). Violations only; oracle = empty relation.
    "q_stream_curate_fuzzy_verify" -> ((s, dir) => {
      val src = Scratch.path(dir, "curatefv_src")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      docs.repartition(4).write.mode("overwrite").parquet(src)
      val streamRes = streaming.StreamingIngest.runStreamCurateFuzzyBounded(
        s, src, "doc_id", "text", minTokens = 20, n = 3, k = 64, bands = 16,
        threshold = 0.5)
      val gated = docs.withColumn("__pass",
        size(operators.Dedup.cleanTokens(col("text"))) >= 20)
      val dups = operators.Dedup.minhashNearDupPairs(
        gated.filter(col("__pass")).select(col("doc_id"), col("text")),
        "doc_id", "text", n = 3, k = 64, bands = 16, threshold = 0.5,
        maxBucket = Int.MaxValue)
        .select(col("idB").as("doc_id")).distinct()
      val batchRes = gated
        .join(dups.withColumn("__dup", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(!col("__pass"), lit("quality"))
            .when(col("__dup").isNotNull, lit("duplicate"))
            .otherwise(lit("curated")).as("status"))
      streamRes.exceptAll(batchRes).withColumn("side", lit("stream_only"))
        .unionAll(batchRes.exceptAll(streamRes).withColumn("side", lit("batch_only")))
        .orderBy(col("doc_id"), col("side"))
    }),


    // Streaming ANN serving: micro-batches of queries scored in
    // foreachBatch against the persisted-and-reloaded IVF+PQ models and
    // the once-built code index — train once, ship the artifact, serve
    // the stream. WHICH neighbors the probes reach is engine-internal
    // (same as q_sim_topk_ivfpq), so the gated output is the per-query
    // claim: k served results, each equal to the batch twin under the
    // same frozen models (per-query top-k is a pure function of (query,
    // models, index) — no cross-batch state) — round-14 fold; the
    // served lists stay in the API.
    "q_stream_ann" -> ((s, dir) => {
      val src = Scratch.path(dir, "ann_src")
      val modelPath = Scratch.path(dir, "ann_model")
      t(s, dir, "embeddings").repartition(4).write.mode("overwrite").parquet(src)
      // the runner hands back its checkpointed code index — built from the
      // models as reloaded from modelPath, i.e. the same (livf, lpq) loaded
      // below — so the batch twin scores WITHOUT a second full-corpus
      // IvfPq.index pass (§2.4 share one materialization)
      val (a0, indexed) =
        streaming.StreamingIngest.runStreamAnnBounded(s, src, modelPath)
      val a = Materialize(a0)
      val emb = s.read.parquet(src)
      val (livf, lpq) = operators.IvfPq.loadModels(s, modelPath)
      val b = Materialize(operators.IvfPq.topKIndexed(
        emb.filter(col("vec_id") < 16),
        indexed, emb, livf, lpq,
        k = 10, nprobe = 4, shortlist = 32))
      val drift = a.exceptAll(b).unionAll(b.exceptAll(a))
        .select(col("query_id")).distinct().withColumn("__bad", lit(true))
      a.groupBy(col("query_id")).agg(count(lit(1)).as("n_results"))
        .join(drift, Seq("query_id"), "left")
        .select(col("query_id"), col("n_results"),
          col("__bad").isNull.as("stream_eq_batch"))
        .orderBy(col("query_id"))
    }),


    // Per-query top-k is a PURE function of (query, frozen models, frozen
    // index) — no cross-batch state — so the bounded stream must equal
    // the batch topKIndexed run under the SAME persisted models exactly,
    // not merely to a recall floor. Violations only; empty oracle.
    "q_stream_ann_verify" -> ((s, dir) => {
      val src = Scratch.path(dir, "annv_src")
      val modelPath = Scratch.path(dir, "annv_model")
      t(s, dir, "embeddings").repartition(4).write.mode("overwrite").parquet(src)
      val emb = s.read.parquet(src)
      val ivf = operators.IvfIndex.train(emb, "vec_id", "embedding", k = 16)
      val pq = operators.ProductQuantize.train(emb, "vec_id", "embedding",
        m = 16, k = 64)
      val (streamRes, indexed) = streaming.StreamingIngest
        .runStreamAnnBounded(s, src, modelPath, pretrained = Some((ivf, pq)))
      // score the batch twin under the models the stream actually SERVED
      // (the reloaded copies — load ∘ save identity is itself spec-pinned)
      // and over the runner's OWN checkpointed index (built from those
      // same reloaded models — no second full-corpus index pass, §2.4)
      val (livf, lpq) = operators.IvfPq.loadModels(s, modelPath)
      // both frames feed BOTH exceptAll sides — checkpoint to sever the
      // shared index lineage (duplicate attribute ids otherwise collide
      // inside the dual anti-join plan) and to run each search once
      val a = Materialize(streamRes)
      val b = Materialize(operators.IvfPq.topKIndexed(
        emb.filter(col("vec_id") < 16),
        indexed, emb, livf, lpq,
        k = 10, nprobe = 4, shortlist = 32))
      a.exceptAll(b).withColumn("side", lit("stream_only"))
        .unionAll(b.exceptAll(a).withColumn("side", lit("batch_only")))
        .orderBy(col("query_id"), col("rank"), col("side"))
    }),


    // Streaming hot-key detection: the SAME native MG aggregate as
    // q_heavy_hitters, run as a streaming global aggregate — the
    // capacity-sized buffer is the state carried across micro-batches.
    // Arrival-order-dependent → the gated output is the claim the
    // STREAMING summary must satisfy against exact batch counts
    // (round-14 headliner fold; raw summary in the API).
    "q_stream_hotkeys" -> ((s, dir) => {
      val sk = streaming.StreamingIngest.runStreamHotKeysBounded(s,
        s"$dir/events.parquet", "user_id", capacity = 32)
      val items = t(s, dir, "events").filter(col("user_id").isNotNull)
        .select(col("user_id").cast("long").as("item"))
      items.agg(count(lit(1)).as("n"))
        .crossJoin(operators.HeavyHitters.violationsAgainst(sk, items,
          capacity = 32).agg(count(lit(1)).as("n_violations")))
        .select(lit(32L).as("capacity"), col("n"), col("n_violations"))
    }),


    // Every MG guarantee checked in-engine on the STREAMING summary
    // against exact batch counts of the same events. Violations only.
    "q_stream_hotkeys_verify" -> ((s, dir) => {
      val sk = streaming.StreamingIngest.runStreamHotKeysBounded(s,
        s"$dir/events.parquet", "user_id", capacity = 32)
      val items = t(s, dir, "events").filter(col("user_id").isNotNull)
        .select(col("user_id").cast("long").as("item"))
      operators.HeavyHitters.violationsAgainst(sk, items, capacity = 32)
    }),


    // Built-in bounded-state streaming dedup: dropDuplicatesWithinWatermark
    // with a span-sized delay (bounded replay ⇒ nothing evicts early, every
    // duplicate suppressed) — result ≡ batch DISTINCT, which is the oracle.
    "q_stream_dedup_wm" -> ((s, dir) => {
      val path = s"$dir/events.parquet"
      val ev = s.read.parquet(path)
      val evUs = EventTime.micros(ev)
      val spanUs = ev.agg((max(evUs) - min(evUs)).as("s")).head()
      val delay =
        if (spanUs.isNullAt(0)) "1 microsecond"
        else s"${spanUs.getLong(0) + 1} microseconds"
      val stream = s.readStream.schema(ev.schema).parquet(path + "*")
        .select(col("user_id"), col("event_type"),
          EventTime.timestamp(ev).as("tsm"))
      StreamingIngest.memorySnapshot(StreamingIngest.dedupWithinWatermark(
          stream, Seq("user_id", "event_type"), "tsm", delay), "append")
        .select(col("user_id"), col("event_type"))
        .orderBy(col("user_id"), col("event_type"))
    }),


    // Streaming sessionization (session_window + watermark): the streaming
    // twin of q_sessionize, oracled against the same lag/cumsum derivation
    // (session windows merge when they touch, so the split rule is the
    // batch operator's strict >). Bounded-stream finalization via the
    // staged far-future sentinel row.
    "q_stream_sessions" -> ((s, dir) =>
      StreamingIngest.runSessionizeBounded(s, s"$dir/events.parquet",
        gapMicros = 1800L * 1000 * 1000)
        .select(col("user_id"), col("session_start"), col("session_last"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start"))),


    // Streaming twin of the anomaly gate: grid-sized complete-mode count
    // state, then the SAME densify + integer z-test — exact counts make
    // it bit-identical to batch, so it shares q_rate_anomalies' oracle.
    "q_stream_anomalies" -> ((s, dir) =>
      StreamingIngest.runStreamRateAnomaliesBounded(s, s"$dir/events.parquet",
        "event_type", bucketMicros = 3600L * 1000 * 1000, window = 24, k = 3)
        .orderBy(col("key"), col("bucket"))),


    // The SAME native sketch aggregate as streaming state (the MG
    // hot-keys pattern): per-segment registers carry across micro-batches
    // in the state store. Rows-only; the gate below pins the result.
    "q_stream_hll" -> ((s, dir) =>
      StreamingIngest.runStreamDistinctBounded(s, s"$dir/events.parquet",
        "event_type", "user_id", lgK = 12)
        .orderBy(col("segment"))),


    // Because the sketch is a set function, the streaming rollup must
    // equal the batch rollup BIT-EXACTLY (n and estimate, every segment
    // and the union total) regardless of how the replay batched — a
    // stronger gate than any error bound. Violations only.
    "q_stream_hll_verify" -> ((s, dir) => {
      val stream = StreamingIngest.runStreamDistinctBounded(s,
        s"$dir/events.parquet", "event_type", "user_id", lgK = 12)
      val batch = operators.Profiler.nativeDistinctRollup(
        t(s, dir, "events"), "event_type", "user_id")
      // null-safe segment join: a NULL segment is a real segment; a plain
      // equi-join would orphan both copies into spurious violations
      stream.withColumnRenamed("n_rows", "s_n")
        .withColumnRenamed("est_distinct", "s_est").alias("s")
        .join(batch.alias("b"),
          col("s.segment") <=> col("b.segment"), "full_outer")
        .filter(col("s.s_n").isNull || col("b.n_rows").isNull ||
          col("s.s_n") =!= col("b.n_rows") ||
          col("s.s_est") =!= col("b.est_distinct"))
        .select(coalesce(col("s.segment"), col("b.segment")).as("segment"),
          lit("stream_vs_batch").as("issue"))
    }),


    // The SAME native KLL aggregate as streaming state (the MG hot-keys
    // pattern): per-event-type compactor stacks carry across micro-batches
    // in the state store. Arrival-order-dependent like the batch headline
    // → the gated output is the same (segment, p, n, rank_ok) claim,
    // checked against the exact batch data (round-14 headliner fold).
    "q_stream_quantile" -> ((s, dir) => {
      val est = Materialize(StreamingIngest.runStreamQuantileBounded(s,
        s"$dir/events.parquet", "event_type",
        floor(col("value").cast("double") * 1e6), k = 256,
        ps = Seq(0.25, 0.5, 0.75, 0.95)))
      val values = t(s, dir, "events")
        .withColumn("__v", floor(col("value").cast("double") * 1e6).cast("long"))
        .filter(col("__v").isNotNull)
        .select(col("event_type").cast("string").as("segment"), col("__v").as("v"))
      val bad = operators.QuantileSketch.violations(est, values)
        .select(col("segment"), col("p")).distinct()
        .withColumn("__bad", lit(true))
      est.join(bad, Seq("segment", "p"), "left")
        .select(col("segment"), col("p"), col("n"),
          col("__bad").isNull.as("rank_ok"))
        .orderBy(col("segment"), col("p"))
    }),


    // The streaming result equals SOME valid KLL run, so the same
    // worst-case rank gate applies verbatim against the exact batch data.
    // Violations only; oracle = empty relation.
    "q_stream_quantile_verify" -> ((s, dir) => {
      val est = StreamingIngest.runStreamQuantileBounded(s,
        s"$dir/events.parquet", "event_type",
        floor(col("value").cast("double") * 1e6), k = 256,
        ps = Seq(0.25, 0.5, 0.75, 0.95))
      val values = t(s, dir, "events")
        .withColumn("__v", floor(col("value").cast("double") * 1e6).cast("long"))
        .filter(col("__v").isNotNull)
        .select(col("event_type").cast("string").as("segment"), col("__v").as("v"))
      operators.QuantileSketch.violations(est, values)
        .orderBy(col("segment"), col("p"), col("issue"))
    }),


    // The SAME native KMV aggregate as streaming state: per-event-type
    // k-smallest-hash sets carry across micro-batches, pairwise overlap
    // derived from the final state. user_id (150 distinct « k) keeps the
    // sketches in their exact regime, so the overlap figures double as
    // exact set relations between event-type audiences. Rows-only; the
    // gate below pins the result.
    "q_stream_kmv" -> ((s, dir) =>
      StreamingIngest.runStreamOverlapBounded(s, s"$dir/events.parquet",
        "event_type", "user_id", k = 512)
        .orderBy(col("seg_a"), col("seg_b"))),


    // Because the sketch is a set function, the streaming pair overlap
    // must equal the batch one BIT-EXACTLY (every figure, every pair)
    // regardless of how the replay batched. Violations only.
    "q_stream_kmv_verify" -> ((s, dir) => {
      val stream = StreamingIngest.runStreamOverlapBounded(s,
        s"$dir/events.parquet", "event_type", "user_id", k = 512)
      val batch = operators.SetSketch.pairOverlap(
        t(s, dir, "events"), "event_type", "user_id", k = 512)
      val sCols = stream.columns.map(c => col(c).as(s"s_$c"))
      val bCols = batch.columns.map(c => col(c).as(s"b_$c"))
      stream.select(sCols: _*)
        .join(batch.select(bCols: _*),
          col("s_seg_a") <=> col("b_seg_a") &&
            col("s_seg_b") <=> col("b_seg_b"), "full_outer")
        .filter(col("s_union_est").isNull || col("b_union_est").isNull ||
          col("s_union_est") =!= col("b_union_est") ||
          col("s_intersect_est") =!= col("b_intersect_est") ||
          col("s_diff_ab_est") =!= col("b_diff_ab_est") ||
          col("s_jaccard_ppm") =!= col("b_jaccard_ppm"))
        .select(coalesce(col("s_seg_a"), col("b_seg_a")).as("seg_a"),
          coalesce(col("s_seg_b"), col("b_seg_b")).as("seg_b"),
          lit("stream_vs_batch").as("issue"))
    }),


    // The native Bloom aggregate as streaming state: per-event-type
    // filters OR-merge across micro-batches. The filter bytes are
    // engine-internal, so the gated output is the Bloom CONTRACT per
    // segment: exact member count and "every present (segment, user)
    // probes TRUE in the streamed filter" — a false negative (impossible
    // by construction) flips the flag and breaks the hash (round-14
    // fold; the bit-level stream ≡ batch gate stays in _verify).
    "q_stream_bloom" -> ((s, dir) => {
      val stream = StreamingIngest.runStreamBloomBounded(s,
        s"$dir/events.parquet", "event_type", "user_id",
        numBits = 1 << 15, numHashes = 7)
      val members = t(s, dir, "events").filter(col("user_id").isNotNull)
        .select(col("event_type").cast("string").as("segment"),
          col("user_id").cast("long").as("__v"))
        .distinct()
      members.join(stream, Seq("segment"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_users"),
          min(graft.sink.BloomIndex.bloomContains(col("bloom"), col("__v"))
            .cast("int")).as("__allin"))
        .select(col("segment"), col("n_users"),
          (col("__allin") === 1).as("no_false_negatives"))
        .orderBy(col("segment"))
    }),


    // Two-part gate: (a) streaming filter BYTES equal the batch ones
    // per segment (set-function replay invariance, the strongest claim);
    // (b) the Bloom contract itself — every (segment, user) actually
    // present probes TRUE in the streamed filter (no false negatives,
    // ever). Violations only; oracle = empty relation.
    "q_stream_bloom_verify" -> ((s, dir) => {
      val stream = StreamingIngest.runStreamBloomBounded(s,
        s"$dir/events.parquet", "event_type", "user_id",
        numBits = 1 << 15, numHashes = 7)
      val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
      val batch = ev
        .groupBy(col("event_type").cast("string").as("segment"))
        .agg(graft.sink.BloomIndex.bloomAgg(col("user_id").cast("long"),
          1 << 15, 7).as("bloom"))
      // Null-safe keys throughout: a NULL segment is a real segment (the
      // repo-wide convention for stream-vs-batch comparisons — see the
      // <=> joins in q_stream_kmv_verify above). Plain equality would let
      // NULL-segment rows miss each other (spurious bits drift) and skip
      // the no-false-negative probe entirely.
      val bitsDrift = stream.select(col("segment").as("s_seg"),
          col("bloom").as("sb"))
        .join(batch.select(col("segment").as("b_seg"), col("bloom").as("bb")),
          col("s_seg") <=> col("b_seg"), "full_outer")
        .filter(col("sb").isNull || col("bb").isNull || col("sb") =!= col("bb"))
        .select(coalesce(col("s_seg"), col("b_seg")).as("segment"),
          lit("stream_vs_batch_bits").as("issue"))
      val members = ev.select(col("event_type").cast("string").as("m_seg"),
        col("user_id").cast("long").as("u")).distinct()
      val falseNeg = members
        .join(stream.select(col("segment"), col("bloom")),
          col("m_seg") <=> col("segment"))
        .drop("m_seg")
        .filter(!graft.sink.BloomIndex.bloomContains(col("bloom"), col("u")))
        .select(col("segment"), lit("false_negative").as("issue"))
      bitsDrift.unionByName(falseNeg).orderBy(col("segment"), col("issue"))
    }),


    // The SAME CMS grid as streaming state (complete-mode global agg
    // merged across micro-batches), probed with the exact top-25 after
    // the replay. Rows-only; pinned by the gate below.
    "q_stream_cms" -> ((s, dir) =>
      StreamingIngest.runStreamFreqBounded(s, s"$dir/events.parquet",
        "user_id", k = 25, depth = 10, width = 2048)
        .orderBy(col("exact_cnt").desc, col("item"))),


    // Elementwise-sum merge ⇒ the streaming sketch must reproduce the
    // batch estimates BIT-EXACTLY for every probe item. Violations only.
    "q_stream_cms_verify" -> ((s, dir) => {
      val stream = StreamingIngest.runStreamFreqBounded(s,
        s"$dir/events.parquet", "user_id", k = 25, depth = 10, width = 2048)
      val batch = operators.FreqSketch.topItemEstimates(
        t(s, dir, "events"), "user_id", k = 25)
      stream.withColumnRenamed("exact_cnt", "s_exact")
        .withColumnRenamed("est_cnt", "s_est")
        .join(batch, Seq("item"), "full_outer")
        .filter(col("s_exact").isNull || col("exact_cnt").isNull ||
          col("s_exact") =!= col("exact_cnt") || col("s_est") =!= col("est_cnt"))
        .select(col("item").cast("string").as("subject"),
          lit("stream_vs_batch").as("issue"))
    }),

  )

  def oracles: Map[String, String] = Map(

    // The streaming twin shares the oracle VERBATIM: feature extraction
    // is a pure per-row payload function, so arrival order and batch
    // boundaries cannot move a single value.
    "q_stream_multimodal" -> multimodalFeaturesSql,


    // Streaming curation: the batch replay IS the oracle (stream ≡ batch
    // by the pair-discovery argument in StreamingIngest). Quality rule on
    // the empty-filtered token count; shingles/pairs are q_dedup_ngram's
    // derivation restricted to quality-passers; a doc is a duplicate iff
    // some qualifying pair orients it as the larger id.
    "q_stream_curate" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk FROM documents),
        |qual AS (
        |  SELECT doc_id, tk FROM toks
        |  WHERE len(list_filter(tk, t -> t <> '')) >= 20),
        |sh AS (
        |  SELECT DISTINCT doc_id, list_extract(tk, i) || ' ' || list_extract(tk, i+1) || ' ' || list_extract(tk, i+2) AS s
        |  FROM qual, LATERAL (SELECT unnest(range(1, len(tk)-1)) AS i) r
        |  WHERE len(tk) >= 3
        |  UNION
        |  SELECT DISTINCT doc_id, array_to_string(tk, ' ') AS s FROM qual WHERE len(tk) < 3
        |),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT x.doc_id AS idA, y.doc_id AS idB, count(*) AS c
        |  FROM sh x JOIN sh y USING (s) WHERE x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |dup AS (
        |  SELECT DISTINCT idB AS doc_id
        |  FROM common
        |  JOIN sizes na ON na.doc_id = idA
        |  JOIN sizes nb ON nb.doc_id = idB
        |  WHERE CAST(c AS DOUBLE) / (na.n_sh + nb.n_sh - c) >= 0.2)
        |SELECT d.doc_id,
        |  CASE WHEN q.doc_id IS NULL THEN 'quality'
        |       WHEN dp.doc_id IS NOT NULL THEN 'duplicate'
        |       ELSE 'curated' END AS status
        |FROM documents d
        |LEFT JOIN qual q ON q.doc_id = d.doc_id
        |LEFT JOIN dup dp ON dp.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,


    // extraction is stateless per-row ⇒ the streaming twin shares the
    // batch oracle verbatim.
    "q_stream_text_extract" -> textExtractOracleSql,

    "q_stream_links" -> htmlLinksOracleSql,

    "q_stream_sft" -> sftAssembleOracleSql,

    "q_stream_pref_pairs" -> prefPairsOracleSql,

    "q_stream_bon" -> sftBonOracleSql,

    "q_stream_images" -> htmlImagePairsOracleSql,

    "q_stream_markdown" -> htmlMarkdownOracleSql,

    "q_stream_ffd" -> packFfdStatsOracleSql,

    "q_stream_sft_tokens" -> sftAssembleTokensOracleSql,

    "q_stream_interleaved_pack" -> interleavedPackOracleSql,

    "q_stream_video_neardup" ->
      (MultimodalRegistry.videoNearDupCtes + """
        |SELECT idA, idB, n_sig_a, n_sig_b, n_matched_a, n_matched_b,
        |  score_ppm
        |FROM scored ORDER BY idA, idB""".stripMargin),

    "q_stream_bitext_mine" -> SimilarityRegistry.bitextMineOracleSql,

    "q_stream_audio_neardup" ->
      (MultimodalRegistry.audioNearDupCtes + """
        |SELECT idA, idB, n_sig_a, n_sig_b, n_matched_a, n_matched_b,
        |  score_ppm
        |FROM scored ORDER BY idA, idB""".stripMargin),

    "q_stream_interleaved" -> interleavedDocsOracleSql,

    "q_stream_tables" -> htmlTablesOracleSql,


    // The discovery twin is stream-static per batch + a pure rank over
    // the accumulated survivors ⇒ shares the batch oracle verbatim.
    "q_stream_seeds" -> feedSeedsOracleSql,


    // The gate is per-row over a static broadcast table ⇒ the bounded
    // stream shares the batch oracle verbatim.
    "q_stream_robots_gate" -> robotsGateOracleSql,


    // Anchor stats are pure aggregates of the link set ⇒ the bounded
    // stream shares the batch oracle verbatim.
    "q_stream_anchor_texts" -> anchorOracleSql,

    "q_stream_traps" -> crawlTrapsOracleSql,


    "q_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    // epoch_us comparisons on both bounds — matches the stream side's
    // micros-truncated timestamps exactly (2h = 7_200_000_000 us).
    "q_stream_join" ->
      """SELECT v.user_id, v.event_id AS view_event_id,
        |  p.event_id AS purchase_event_id,
        |  epoch_us(p.ts) - epoch_us(v.ts) AS delta_us
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND epoch_us(p.ts) >= epoch_us(v.ts)
        | AND epoch_us(p.ts) <= epoch_us(v.ts) + 7200000000
        |ORDER BY 1, 2, 3""".stripMargin,


    "q_stream_dedup" ->
      """SELECT DISTINCT array_to_string(list_slice(regexp_split_to_array(trim(lower(text)), '\s+'), 1, 5), ' ') AS key5
        |FROM documents ORDER BY key5""".stripMargin,


    "q_stream_dedup_wm" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,


    // The multi-batch streaming upsert must land exactly the batch
    // latest-per-user dedup. ts is parquet nanos (TIMESTAMP_NS in DuckDB,
    // normalized to MICROSECONDS in Spark before ranking) — so the oracle
    // must RANK on epoch_us(ts) too, not the raw ns timestamp: two events
    // in the same microsecond but different nanoseconds would otherwise
    // elect different winners across the engines.
    "q_stream_upsert" ->
      """SELECT user_id, event_id, epoch_us(ts) AS us, value FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) e
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,


    // Streaming DSIR: bucket counts are pure multiset functions of the
    // input, so stream ≡ batch and the batch SQL gates the streaming
    // query verbatim (full hash).
    "q_stream_dsir" -> dsirWeightsOracleSql,


    // Per-row PERMISSIVE parse ⇒ the bounded stream shares the batch
    // oracle verbatim.
    "q_stream_jsonl_source" -> jsonlSourceOracleSql,


    "q_stream_curate_fuzzy_verify" ->
      """SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS status,
        |  CAST(NULL AS VARCHAR) AS side
        |WHERE FALSE""".stripMargin,


    "q_stream_ann_verify" ->
      """SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS INTEGER) AS rank,
        |  CAST(NULL AS BIGINT) AS neighbor_id, CAST(NULL AS DOUBLE) AS cosine,
        |  CAST(NULL AS VARCHAR) AS side
        |WHERE FALSE""".stripMargin,


    // Streaming PMI: exact integer pair counts make stream ≡ batch, so
    // the batch SQL gates the streaming query verbatim (full hash).
    "q_stream_pmi" -> textPmiOracleSql,


    // Streaming keywords: exact integer counts make stream ≡ batch, so
    // the batch SQL gates the streaming query verbatim (full hash).
    "q_stream_keywords" -> textKeywordsOracleSql,


    // The BATCH derivation verbatim — exact integer counts make the
    // streaming replay reproduce it identically, so a streaming query
    // gets a full hash oracle.
    "q_stream_auc" ->
      """WITH base AS (
        |  SELECT CAST(user_id % 3 AS VARCHAR) AS grp,
        |    CAST(FLOOR(value * 1000) AS BIGINT) AS s,
        |    (event_type = 'purchase') AS l
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |g AS (
        |  SELECT grp, s,
        |    CAST(SUM(CASE WHEN l THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |    COUNT(*) AS c
        |  FROM base GROUP BY grp, s),
        |r AS (
        |  SELECT grp, p, c,
        |    CAST(COALESCE(SUM(c) OVER (PARTITION BY grp ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum
        |  FROM g),
        |t AS (
        |  SELECT grp, CAST(SUM(p) AS BIGINT) AS n_pos,
        |    CAST(SUM(c) - SUM(p) AS BIGINT) AS n_neg,
        |    CAST(SUM(p * (2 * cum + c + 1)) AS BIGINT) AS r2
        |  FROM r GROUP BY grp)
        |SELECT grp, n_pos, n_neg,
        |  CAST(r2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
        |  CASE WHEN n_pos > 0 AND n_neg > 0
        |    THEN CAST((1000000 * (r2 - n_pos * (n_pos + 1)))
        |      // (2 * n_pos * n_neg) AS BIGINT)
        |    ELSE NULL END AS auc_ppm
        |FROM t ORDER BY grp""".stripMargin,


    // Stream ≡ batch verbatim (mergeable dominance) ⇒ the batch
    // dominance-definition oracle applies unchanged.
    "q_stream_pareto" -> paretoFrontOracleSql,


    // The streaming twin converges to the batch entities identically
    // (exact integer/string computation end to end) — the batch oracle
    // applies VERBATIM, the q_stream_classify discipline.
    "q_stream_er" -> erEntitiesOracleSql,


    // Streaming inference must converge to the one-shot batch result —
    // the SAME oracle, verbatim.
    "q_stream_classify" -> nbOracleSql,


    // Same strict-> split rule as q_sessionize (session windows merge when
    // they touch); only the output shape differs.
    "q_stream_sessions" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |labeled AS (
        |  SELECT user_id, us,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged)
        |SELECT user_id, MIN(us) AS session_start, MAX(us) AS session_last,
        |  COUNT(*) AS n_events
        |FROM labeled GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin,


    "q_stream_hll_verify" ->
      """SELECT CAST(NULL AS VARCHAR) AS segment, CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    "q_stream_kmv_verify" ->
      """SELECT CAST(NULL AS VARCHAR) AS seg_a, CAST(NULL AS VARCHAR) AS seg_b,
        |  CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    "q_stream_cms_verify" ->
      """SELECT CAST(NULL AS VARCHAR) AS subject, CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    // Streamed Bloom bits are engine-specific (XXH64 double hashing) —
    // headline is rows-only; the bit-equality + no-false-negative gate is
    // the correctness claim.
    "q_stream_bloom_verify" ->
      """SELECT CAST(NULL AS VARCHAR) AS segment, CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    "q_stream_anomalies" -> rateAnomalySql,


    "q_stream_quantile_verify" ->
      """SELECT CAST(NULL AS VARCHAR) AS segment, CAST(NULL AS DOUBLE) AS p,
        |  CAST(NULL AS VARCHAR) AS issue
        |WHERE FALSE""".stripMargin,


    "q_stream_hotkeys_verify" ->
      """SELECT CAST(NULL AS VARCHAR) AS why, CAST(NULL AS BIGINT) AS item,
        |  CAST(NULL AS BIGINT) AS est, CAST(NULL AS BIGINT) AS cnt
        |WHERE FALSE""".stripMargin,

    // elementwise-sum merge ⇒ the streaming sketch shares the pin.
    "q_stream_cms" -> cmsExactRegimeSql,

    "q_stream_hll" -> hllNativeExactRegimeSql,


    // (a) KMV k=512 holds every distinct user hash (150 ≪ k): the theta
    // sketch is in its exact regime and all overlap figures equal the
    // exact set relations, integer-ppm arithmetic included.
    "q_stream_kmv" ->
      """WITH sv AS (
        |  SELECT DISTINCT CAST(event_type AS VARCHAR) AS segment,
        |    CAST(user_id AS BIGINT) AS v
        |  FROM events WHERE user_id IS NOT NULL),
        |sizes AS (SELECT segment, COUNT(*) AS sz FROM sv GROUP BY 1),
        |inter AS (
        |  SELECT a.segment AS seg_a, b.segment AS seg_b, COUNT(*) AS i
        |  FROM sv a JOIN sv b ON a.v = b.v AND a.segment < b.segment
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.segment AS seg_a, b.segment AS seg_b, a.sz AS sza, b.sz AS szb
        |  FROM sizes a JOIN sizes b ON a.segment < b.segment)
        |SELECT p.seg_a, p.seg_b,
        |  CAST(p.sza + p.szb - COALESCE(i.i, 0) AS BIGINT) AS union_est,
        |  CAST(COALESCE(i.i, 0) AS BIGINT) AS intersect_est,
        |  CAST(p.sza - COALESCE(i.i, 0) AS BIGINT) AS diff_ab_est,
        |  CAST((1000000 * COALESCE(i.i, 0))
        |    // (p.sza + p.szb - COALESCE(i.i, 0)) AS BIGINT) AS jaccard_ppm
        |FROM pairs p
        |LEFT JOIN inter i ON i.seg_a = p.seg_a AND i.seg_b = p.seg_b
        |ORDER BY 1, 2""".stripMargin,


    "q_stream_quantile" ->
      """SELECT CAST(event_type AS VARCHAR) AS segment, CAST(pp AS DOUBLE) AS p,
        |  COUNT(*) AS n, TRUE AS rank_ok
        |FROM events CROSS JOIN (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS pp)
        |WHERE value IS NOT NULL
        |GROUP BY 1, 2 ORDER BY segment, p""".stripMargin,

    "q_stream_hotkeys" -> mgSummaryOracleSql,


    "q_stream_bloom" ->
      """SELECT CAST(event_type AS VARCHAR) AS segment,
        |  COUNT(DISTINCT user_id) AS n_users, TRUE AS no_false_negatives
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY 1 ORDER BY segment""".stripMargin,

    "q_stream_ann" -> annContractOracleSql("stream_eq_batch"),


    // (a) the fuzzy-curate statuses replayed from scratch: quality =
    // fewer than 20 clean tokens; duplicate = the HIGHER id of any
    // exact-trigram-jaccard ≥ 0.5 pair among gated docs (banding at the
    // planted-dup similarity has full recall — same pin as
    // q_dedup_minhash); else curated.
    "q_stream_curate_fuzzy" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      x -> x <> '') AS tk
        |  FROM documents),
        |gated AS (SELECT doc_id, tk FROM toks WHERE len(tk) >= 20),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    list_extract(tk, i) || ' ' || list_extract(tk, i+1) || ' ' ||
        |      list_extract(tk, i+2) AS s
        |  FROM gated, LATERAL (SELECT unnest(range(1, len(tk) - 1)) AS i) r
        |  WHERE len(tk) >= 3
        |  UNION
        |  SELECT DISTINCT doc_id, array_to_string(tk, ' ') AS s
        |  FROM gated WHERE len(tk) < 3),
        |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT x.doc_id AS idA, y.doc_id AS idB, count(*) AS c
        |  FROM sh x JOIN sh y USING (s) WHERE x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |dups AS (
        |  SELECT DISTINCT idB AS doc_id FROM common
        |  JOIN sizes na ON na.doc_id = idA
        |  JOIN sizes nb ON nb.doc_id = idB
        |  WHERE CAST(c AS DOUBLE) / (na.n_sh + nb.n_sh - c) >= 0.5)
        |SELECT t.doc_id,
        |  CASE WHEN len(t.tk) < 20 THEN 'quality'
        |       WHEN d.doc_id IS NOT NULL THEN 'duplicate'
        |       ELSE 'curated' END AS status
        |FROM toks t LEFT JOIN dups d ON d.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,

  )
}
