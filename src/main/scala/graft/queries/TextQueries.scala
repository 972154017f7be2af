package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.SparkEntry._

/** Text analysis for training-data pipelines: statistics, subwords,
  * BPE training and segmentation, language id, LM scoring, quality
  * signals, TF-IDF and BM25, PII scrubbing, boilerplate and segment
  * dedup, chunking, packing and decontamination.
  */
private[graft] object TextQueries {

  /** text_clean_segments' whole pipeline, shared by the run body and
    * the reference its check compares it to, so the segmentation, df
    * threshold, and ordered-reassembly semantics cannot drift: segment
    * df counted on the segment TEXT (oracle-exact) or on xxhash64 keys
    * (8-byte shuffle rows, the at-scale form).
    */
  private def cleanSegments(docs: DataFrame, hashedDf: Boolean): DataFrame = {
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, cast(ceil(size(words) / 10.0) as int) - 1)," +
          " i -> array_join(slice(words, i * 10 + 1, 10), ' '))")))
      .select(col("doc_id"), col("pos"), col("col").as("seg"))
      .withColumn("key", if (hashedDf) xxhash64(col("seg")) else col("seg"))
    val docFreq = segs.select(col("doc_id"), col("key"))
      .groupBy(col("key")).agg(countDistinct(col("doc_id")).as("df"))
    segs.join(docFreq, Seq("key"))
      .withColumn("kept", col("df") < 2)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        expr("concat_ws(' ', transform(array_sort(collect_list(" +
          "CASE WHEN kept THEN named_struct('pos', pos, 'seg', seg) END))," +
          " x -> x.seg))").as("clean"))
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        md5(col("clean")).as("clean_md5"),
        length(col("clean")).cast("long").as("clean_len"))
  }

  /** set_overlap_kmv's two key sets: the distinct word 5-grams of the
    * 80% and 20% hash splits of the corpus.
    */
  private def overlapGrams(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    val b = Sampling.hashBucket(col("doc_id"))
    def grams(df: DataFrame) = df.select(explode(array_distinct(
      graft.functions.TextHashFunctions.wordGrams(col("text"), 5))).as("gram"))
    (grams(docs.filter(b < 80)), grams(docs.filter(b >= 80)))
  }

  /** text_bpe_train's merge table (rank, lhs, rhs, pair_count), trained
    * through the session's model cache or around it.
    */
  private def bpeMergeRows(s: SparkSession, dir: String, cached: Boolean): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges =
      if (cached) Bpe.trainMerges(docs, "text", rounds = 8)
      else Bpe.trainMergesUncached(docs, "text", rounds = 8)
    import s.implicits._
    merges.zipWithIndex
      .map { case ((x, y, c), i) => (i + 1L, x, y, c) }
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** report_sources with its boilerplate flag from the hashed segment
    * dedup (16-byte frequency shuffle) or the raw-string one.
    */
  private def reportSources(s: SparkSession, dir: String, hashed: Boolean): DataFrame = {
    val d = t(s, dir, "documents")
    val per = d.select(col("doc_id"), col("source"),
      length(col("text")).cast("long").as("nc"),
      TextAnalysis.tokenCount(col("text")).as("nt"),
      (TextAnalysis.langId(col("text")) === "en").as("is_en"))
    val boiler =
      (if (hashed) TextAnalysis.segmentDedupHashed(d, "doc_id", "text", w = 5, maxDocs = 3)
       else TextAnalysis.segmentDedup(d, "doc_id", "text", w = 5, maxDocs = 3))
        .select(col("doc_id"), (col("n_kept") < col("n_segs")).as("has_boiler"))
    per.join(boiler, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("sum_chars"),
        sum(col("nt")).as("sum_tokens"),
        sum(when(col("is_en"), 1L).otherwise(0L)).as("n_en"),
        sum(when(col("has_boiler"), 1L).otherwise(0L)).as("n_boiler_docs"))
  }

  /** text_decontaminate: training docs sharing a word 8-gram with the
    * eval slice (doc_id % 10 == 0), joined on 8-byte gram hashes or on
    * the exact gram text.
    */
  private def decontaminated(s: SparkSession, dir: String, hashGrams: Boolean): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.decontaminate(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 8, hashGrams = hashGrams)
  }

  /** text_dup_substrings over literal 20-char substrings, the form DuckDB
    * replays verbatim: the reference for the rolling-hash run body.
    */
  private def dupSubstringsExact(s: SparkSession, dir: String): DataFrame = {
    val L = 20
    val grams = t(s, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(
        when(length(col("text")) >= L,
          expr(s"transform(sequence(1, length(text) - ${L - 1}), i -> substring(text, i, $L))"))
          .otherwise(array()))).as("g"))
    val dfg = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("docs"))
    grams.join(dfg, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("docs") >= 2, 1L).otherwise(0L)).as("n_shared_grams"))
  }

  /** Shared CTE chain replaying BPE training: normalized corpus → word
    * types → per-round (pair count → argmax → greedy leftmost
    * non-overlapping merge). The merge step uses the islands-parity
    * form: within each maximal run of consecutive matching positions,
    * the 1st, 3rd, ... positions merge — provably the same result as
    * the kernel's single left-to-right scan (runs only arise when
    * x = y, and both select every other position from the left).
    * NOTE: assumes the corpus yields ≥ `rounds` distinct pairs (true
    * for every driver sf); on a degenerate corpus the Spark side stops
    * early while tok{r} here goes empty.
    */
  private def bpeOracleCtes(rounds: Int): String = {
    val head =
      """WITH nr AS MATERIALIZED (
        |  SELECT doc_id,
        |         regexp_replace(regexp_replace(lower(text), '[\t\n\x0b\f\r ]', ' ', 'g'),
        |                        '[^a-z ]', '#', 'g') AS t
        |  FROM documents),
        |wrd AS MATERIALIZED (
        |  SELECT w, count(*)::BIGINT AS freq
        |  FROM (SELECT unnest(str_split(t, ' ')) AS w FROM nr)
        |  WHERE w <> '' GROUP BY w),
        |tok0 AS MATERIALIZED (
        |  SELECT w, freq, i, substr(w, i, 1) AS t
        |  FROM (SELECT w, freq, unnest(range(1, len(w) + 1)) AS i FROM wrd))""".stripMargin
    val iter = (1 to rounds).map { r =>
      s""",
         |cnt$r AS (
         |  SELECT x, y, sum(freq)::BIGINT AS c FROM (
         |    SELECT t AS x, lead(t) OVER (PARTITION BY w ORDER BY i) AS y, freq
         |    FROM tok${r - 1})
         |  WHERE y IS NOT NULL GROUP BY x, y),
         |best$r AS MATERIALIZED (
         |  SELECT x, y, c FROM cnt$r ORDER BY c DESC, x ASC, y ASC LIMIT 1),
         |mk$r AS (
         |  SELECT k.w, k.freq, k.i, k.t,
         |         coalesce(k.t = b.x AND
         |           lead(k.t) OVER (PARTITION BY k.w ORDER BY k.i) = b.y, false) AS mt
         |  FROM tok${r - 1} k CROSS JOIN best$r b),
         |s1$r AS (SELECT *, CASE WHEN mt THEN i - row_number()
         |           OVER (PARTITION BY w, mt ORDER BY i) END AS isl FROM mk$r),
         |s2$r AS (SELECT *, CASE WHEN mt THEN row_number()
         |           OVER (PARTITION BY w, isl ORDER BY i) END AS rn FROM s1$r),
         |s3$r AS (SELECT *, (mt AND rn % 2 = 1) AS sel,
         |                lead(t) OVER (PARTITION BY w ORDER BY i) AS nxt,
         |                lag(mt AND rn % 2 = 1) OVER (PARTITION BY w ORDER BY i) AS psel
         |         FROM s2$r),
         |tok$r AS MATERIALIZED (
         |  SELECT w, freq, row_number() OVER (PARTITION BY w ORDER BY i) AS i,
         |         CASE WHEN sel THEN t || nxt ELSE t END AS t
         |  FROM s3$r WHERE NOT coalesce(psel, false))""".stripMargin
    }.mkString
    head + iter
  }

  private def bpeVocabOracleSql(rounds: Int): String =
    bpeOracleCtes(rounds) +
      s"""
         |SELECT t AS token, sum(freq)::BIGINT AS n_occurrences
         |FROM tok$rounds GROUP BY t""".stripMargin

  private def bpeTrainOracleSql(rounds: Int): String =
    bpeOracleCtes(rounds) + "\n" +
      (1 to rounds).map(r =>
        s"SELECT ${r}::BIGINT AS merge_rank, x AS lhs, y AS rhs, c AS pair_count FROM best$r")
        .mkString("\nUNION ALL\n")

  /** Per-doc BPE token counts under the trained merges, as chained CTEs
    * (docw/wtok/cnts) — the shared tail of the segment and pack oracles.
    */
  private def bpePerDocCtes(rounds: Int): String =
    s""",
       |docw AS (SELECT doc_id, w, count(*)::BIGINT AS n
       |         FROM (SELECT doc_id, unnest(str_split(t, ' ')) AS w FROM nr)
       |         WHERE w <> '' GROUP BY doc_id, w),
       |wtok AS (SELECT w, count(*)::BIGINT AS ntok FROM tok$rounds GROUP BY w),
       |cnts AS (SELECT doc_id, sum(n * ntok)::BIGINT AS s
       |         FROM docw JOIN wtok USING (w) GROUP BY doc_id)""".stripMargin

  private def bpeSegmentOracleSql(rounds: Int): String =
    bpeOracleCtes(rounds) + bpePerDocCtes(rounds) +
      s"""
         |SELECT d.doc_id, coalesce(c.s, 0)::BIGINT AS n_bpe_tokens
         |FROM documents d LEFT JOIN cnts c USING (doc_id)""".stripMargin

  /** Pack replay over BPE token counts: text_pack's shard/window
    * arithmetic with n_tok from the trained tokenizer.
    */
  private def bpePackOracleSql(rounds: Int): String =
    bpeOracleCtes(rounds) + bpePerDocCtes(rounds) +
      s""",
         |perdoc AS (SELECT d.doc_id, cast(d.doc_id % 32 as int) AS shard,
         |                  coalesce(c.s, 0)::BIGINT AS n_tok
         |           FROM documents d LEFT JOIN cnts c USING (doc_id)),
         |cc AS (SELECT shard, doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS cum FROM perdoc)
         |SELECT shard, cast((cum - n_tok) // 512 AS BIGINT) AS bin,
         |       count(*) AS n_docs, cast(sum(n_tok) as bigint) AS n_tokens
         |FROM cc GROUP BY 1, 2""".stripMargin

  /** Vocab-size-targeted training replay: unroll `maxRounds`, compute
    * the per-round distinct-token counts, derive the stop round (first
    * round whose vocab reaches base-alphabet + `delta`, else all), and
    * select merges up to it — the exact recurrence
    * [[graft.ops.Bpe.trainMergesToVocab]] runs.
    */
  private def bpeVocabTargetOracleSql(maxRounds: Int, delta: Int): String = {
    val sizes = (0 to maxRounds).map(r =>
      s"SELECT $r AS r, count(DISTINCT t)::BIGINT AS v FROM tok$r")
      .mkString("\nUNION ALL\n")
    val merges = (1 to maxRounds).map(r =>
      s"SELECT ${r}::BIGINT AS merge_rank, x AS lhs, y AS rhs, c AS pair_count " +
        s"FROM best$r, rstar WHERE $r <= rs")
      .mkString("\nUNION ALL\n")
    bpeOracleCtes(maxRounds) +
      s""",
         |vs AS MATERIALIZED ($sizes),
         |tgt AS (SELECT v + $delta AS tv FROM vs WHERE r = 0),
         |rstar AS (SELECT coalesce(min(r), $maxRounds) AS rs
         |          FROM vs, tgt WHERE r >= 1 AND v >= tv)
         |$merges""".stripMargin
  }

  def records: Seq[Record] = Seq(
    Record("text_stats", (s, dir) => {
      // every count from ONE TextStatsExpr kernel pass (CSE collapses
      // the struct references inside whole-stage codegen)
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_text"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.digitCount(col("text")).as("n_digits"),
        TextAnalysis.fingerprintMd5(col("text")).as("fingerprint"))
    },
      oracle =
        """SELECT doc_id,
          |       length(text) AS n_chars_text,
          |       len(regexp_extract_all(text, '[^\t\n\x0b\f\r ]+'))::BIGINT AS n_tokens,
          |       len(regexp_extract_all(text, '\p{N}'))::BIGINT AS n_digits,
          |       md5(lower(regexp_replace(text, '[\t\n\x0b\f\r ]+', ' ', 'g'))) AS fingerprint
          |FROM documents""".stripMargin),
    Record("text_subwords", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.subwordCount(col("text")).as("n_subwords")),
      oracle =
        """SELECT doc_id,
          |       len(regexp_extract_all(text,
          |         '\p{L}+|\p{N}+|[^\p{L}\p{N}\t\n\x0b\f\r ]'))::BIGINT AS n_subwords
          |FROM documents""".stripMargin),
    // corpus-trained BPE merge table (Sennrich 2016) — the trained
    // tokenizer stage: k rounds of pair-count argmax + greedy merge
    // over the word-TYPE table. The OUTPUT is the model itself (rank,
    // lhs, rhs, pair_count), and the oracle replays the full training
    // recurrence as a fixed-round CTE unroll (per-round argmax with the
    // (count DESC, x, y) tie-break, merge via islands-parity windows) —
    // the graph_lpa convention, so a wrong merge order, tie-break, or
    // overlap rule in ANY round fails the gate. The run trains around
    // the model cache (with it a second rep would time a map lookup);
    // the check holds it equal to the cached trainer's table.
    Record("text_bpe_train", (s, dir) => bpeMergeRows(s, dir, cached = false),
      check = Some(sameRows((s, dir) => bpeMergeRows(s, dir, cached = true))),
      oracle = bpeTrainOracleSql(rounds = 8)),
    // the trained tokenizer's VOCABULARY artifact: every surviving
    // token with its corpus occurrence count after the k merges — what
    // a tokenizer ships next to its merge table (the id space, the
    // frequency profile truncation decisions read). One aggregate over
    // the word-type table through the same kernel; the oracle re-trains
    // through the full unrolled recurrence and aggregates its final
    // tok table, so vocab drift in ANY round fails the gate
    Record("text_bpe_vocab", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Bpe.trainMerges(docs, "text", rounds = 8)
      Bpe.wordFreq(docs, "text")
        .select(col("freq"), explode(
          graft.functions.BpeKernels.tokens(col("w"), Bpe.flatten(merges)))
          .as("token"))
        .groupBy(col("token"))
        .agg(sum(col("freq")).as("n_occurrences"))
    },
      oracle = bpeVocabOracleSql(rounds = 8)),
    // the serving path of the trained tokenizer: per-doc BPE token
    // count via the codegen kernel (one pass over the normalized text,
    // no explode/join/shuffle at scoring time); the oracle re-trains
    // AND re-segments through the unrolled recurrence, then aggregates
    // word-type token counts back to docs
    Record("text_bpe_segment", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = Bpe.trainMerges(docs, "text", rounds = 8)
      docs.select(col("doc_id"),
        graft.functions.BpeKernels.tokenCountCol(
          graft.functions.BigramLm.normalize(col("text")),
          Bpe.flatten(merges)).as("n_bpe_tokens"))
    },
      oracle = bpeSegmentOracleSql(rounds = 8)),
    // vocabulary-size-TARGETED BPE training (round-8 verdict item 10 —
    // the way tokenizers are actually specced: |vocab| = V, not "run k
    // rounds"): merge until the corpus's distinct-token count first
    // reaches base-alphabet + 4, capped at 8 rounds. The target is
    // RELATIVE to the corpus's own alphabet so the gate stops mid-run
    // on any data; the oracle unrolls all 8 rounds, recomputes the
    // per-round vocab sizes, derives the same stop round, and selects
    // merges up to it — a wrong stop condition on either side fails
    // the gate
    Record("text_bpe_vocab_target", (s, dir) => {
      val docs = t(s, dir, "documents")
      val v0 = Bpe.wordFreq(docs, "text")
        .select(explode(graft.functions.BpeKernels.tokens(
          col("w"), Array.empty[String])).as("tk"))
        .agg(countDistinct(col("tk"))).head().getLong(0)
      val merges = Bpe.trainMergesToVocab(docs, "text",
        targetVocab = v0 + 4, maxRounds = 8)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((x, y, c), i) => (i + 1L, x, y, c) }
        .toDF("merge_rank", "lhs", "rhs", "pair_count")
    },
      oracle = bpeVocabTargetOracleSql(maxRounds = 8, delta = 4)),
    // sequence packing budgeted by the TRAINED tokenizer (round-8
    // verdict item 6 — the composition a training-data user actually
    // runs: text_pack's shard/window plan with n_tok = the BPE token
    // count under the corpus-trained merges, not the whitespace
    // heuristic). Same shard-parallel cumulative-window shape as
    // text_pack (32 independent shards, no global sort); the scoring
    // side is one codegen kernel pass, no explode/join. The oracle
    // re-trains the tokenizer through the full unrolled recurrence,
    // re-segments, and replays the packing arithmetic
    Record("text_pack_bpe", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val merges = Bpe.trainMerges(docs, "text", rounds = 8)
      val d = docs.select(col("doc_id"),
        pmod(col("doc_id"), lit(32)).cast("int").as("shard"),
        graft.functions.BpeKernels.tokenCountCol(
          graft.functions.BigramLm.normalize(col("text")),
          Bpe.flatten(merges)).as("n_tok"))
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      d.withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("bin", expr("(cum - n_tok) div 512"))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    },
      oracle = bpePackOracleSql(rounds = 8)),
    // per-source corpus report card — the observability surface a
    // pipeline operator reads between prep stages: volume (docs, chars,
    // tokens), language mix (en share via the langId kernel), and
    // boilerplate exposure (docs with >= 1 segment shared by >= 3 docs,
    // the text_seg_dedup signal). One kernel scan for the per-doc
    // metrics + the slim segment-frequency shuffle; all-integer, every
    // column replayed by the oracle. The run takes the boilerplate flag
    // from the hashed segment dedup (16-byte frequency shuffle); the
    // check holds it equal to the raw-string form
    Record("report_sources", (s, dir) => reportSources(s, dir, hashed = true),
      check = Some(sameRows((s, dir) => reportSources(s, dir, hashed = false))),
      // explicit [\t\n\x0B\f\r ] whitespace class and \p{N} digit class:
      // identical semantics in RE2 and in the one-pass TextStats kernel
      // (Java \s / Character.isWhitespace and RE2 \s disagree on Unicode)
      // per-doc kernel replays (tokens, langid-en, seg boilerplate flag)
      // aggregated per source; the langid branch mirrors text_langid's
      // strict en >= others order
      oracle =
        """WITH w AS (SELECT doc_id, source, text, length(text) AS nc,
          |    len(regexp_extract_all(text, '[^\t\n\x0b\f\r ]+'))::BIGINT AS nt,
          |    str_split(regexp_replace(lower(text), '[\t\n\x0b\f\r ]+', ' ', 'g'), ' ') AS tl
          |  FROM documents),
          |c AS (SELECT doc_id, source, nc, nt,
          |    len(list_filter(tl, x -> x IN ('the','and','of','to','is','in','that','it'))) AS en,
          |    len(list_filter(tl, x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) AS de,
          |    len(list_filter(tl, x -> x IN ('le','la','les','et','est','une','que','pas'))) AS fr,
          |    len(list_filter(tl, x -> x IN ('el','la','los','y','es','una','que','no'))) AS es,
          |    len(list_filter(tl, x -> x IN ('il','la','che','e','di','un','per','non'))) AS it
          |  FROM w),
          |l AS (SELECT doc_id, source, nc, nt,
          |    (greatest(en, de, fr, es, it) > 0 AND en >= de AND en >= fr
          |     AND en >= es AND en >= it) AS is_en
          |  FROM c),
          |words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |segs AS (SELECT doc_id, array_to_string(ws[(g*5+1):((g+1)*5)], ' ') AS seg
          |         FROM words, unnest(range(0, (len(ws)+4)//5)) AS t(g)),
          |freq AS (SELECT seg, count(DISTINCT doc_id) AS nd FROM segs GROUP BY seg),
          |b AS (SELECT s.doc_id, max(CASE WHEN f.nd >= 3 THEN 1 ELSE 0 END) AS hb
          |      FROM segs s JOIN freq f USING (seg) GROUP BY s.doc_id)
          |SELECT l.source, count(*) AS n_docs,
          |       cast(sum(l.nc) as bigint) AS sum_chars,
          |       cast(sum(l.nt) as bigint) AS sum_tokens,
          |       cast(sum(CASE WHEN l.is_en THEN 1 ELSE 0 END) as bigint) AS n_en,
          |       cast(sum(b.hb) as bigint) AS n_boiler_docs
          |FROM l JOIN b USING (doc_id)
          |GROUP BY l.source""".stripMargin),
    Record("text_langid", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred")),
      // earlier language in (en,de,fr,es,it), 'und' when all zero —
      // exactly LangIdKernel's strict-> update order
      oracle =
        """WITH w AS (SELECT doc_id,
          |    str_split(regexp_replace(lower(text), '[\t\n\x0b\f\r ]+', ' ', 'g'), ' ') AS t
          |  FROM documents),
          |c AS (SELECT doc_id,
          |    len(list_filter(t, x -> x IN ('the','and','of','to','is','in','that','it'))) AS en,
          |    len(list_filter(t, x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) AS de,
          |    len(list_filter(t, x -> x IN ('le','la','les','et','est','une','que','pas'))) AS fr,
          |    len(list_filter(t, x -> x IN ('el','la','los','y','es','una','que','no'))) AS es,
          |    len(list_filter(t, x -> x IN ('il','la','che','e','di','un','per','non'))) AS it
          |  FROM w)
          |SELECT doc_id,
          |  CASE WHEN greatest(en, de, fr, es, it) = 0 THEN 'und'
          |       WHEN en >= de AND en >= fr AND en >= es AND en >= it THEN 'en'
          |       WHEN de >= fr AND de >= es AND de >= it THEN 'de'
          |       WHEN fr >= es AND fr >= it THEN 'fr'
          |       WHEN es >= it THEN 'es'
          |       ELSE 'it' END AS lang_pred
          |FROM c""".stripMargin),
    // corpus-trained char-bigram LM quality score (the CCNet/KenLM
    // stand-in) — integer log2 weights, so the oracle replays training
    // AND scoring bit-for-bit via the naive explode+join plan the
    // kernel-scored production form avoids
    Record("text_lm_score", (s, dir) =>
      TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text"),
      // stopword-token counts per language; argmax with ties to the
      // full replay of BigramLm: identical normalization, training
      // (length(bin(1+c))-1 = floor(log2(1+c))) and integer-average
      // scoring — as the naive explode+join+groupBy plan
      oracle =
        """WITH nr AS (SELECT doc_id,
          |    regexp_replace(regexp_replace(lower(text), '[\t\n\x0b\f\r ]', ' ', 'g'),
          |                   '[^a-z ]', '#', 'g') AS t
          |  FROM documents),
          |g AS (SELECT doc_id, unnest([substr(t, i, 2) for i in range(1, len(t))]) AS bg
          |      FROM nr WHERE len(t) >= 2),
          |w AS (SELECT bg, length(bin(1 + count(*))) - 1 AS w FROM g GROUP BY bg),
          |sc AS (SELECT doc_id, sum(w)::BIGINT AS sw, count(*)::BIGINT AS nb
          |       FROM g JOIN w USING (bg) GROUP BY doc_id)
          |SELECT nr.doc_id, coalesce(sw // nb, 0)::BIGINT AS lm_score
          |FROM nr LEFT JOIN sc USING (doc_id)""".stripMargin),
    // CCNet's perplexity-bucket split (head/middle/tail) on the trained
    // LM score: bucket 1 = most-typical third, by an exact global ntile
    // (single-partition window — fine at this scale, and the DuckDB
    // oracle replays it tie-for-tie under the (score DESC, doc_id)
    // total order). The CCNet recipe that never globally sorts (one
    // approx-percentile pass learns the two cut scores, a second scan
    // buckets by comparison) puts tie docs at a cut in the lower bucket
    // and sizes the buckets only approximately, so its output holds no
    // contract against this exact split that a check could assert; it
    // is not timed separately.
    Record("text_ppl_buckets", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("lm_score").desc, col("doc_id").asc)
      TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text",
          scale = 1000)
        .withColumn("bucket", ntile(3).over(w).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("lm_score")).as("min_score"),
          max(col("lm_score")).as("max_score"),
          sum(col("lm_score")).as("sum_score"))
    },
      // text_lm_score's training+scoring replay, then the same exact
      // tertile split under the (score DESC, doc_id) total order
      oracle =
        """WITH nr AS (SELECT doc_id,
          |    regexp_replace(regexp_replace(lower(text), '[\t\n\x0b\f\r ]', ' ', 'g'),
          |                   '[^a-z ]', '#', 'g') AS t
          |  FROM documents),
          |g AS (SELECT doc_id, unnest([substr(t, i, 2) for i in range(1, len(t))]) AS bg
          |      FROM nr WHERE len(t) >= 2),
          |w AS (SELECT bg, length(bin(1 + count(*))) - 1 AS w FROM g GROUP BY bg),
          |sc AS (SELECT doc_id, sum(w)::BIGINT AS sw, count(*)::BIGINT AS nb
          |       FROM g JOIN w USING (bg) GROUP BY doc_id),
          |scores AS (SELECT nr.doc_id, coalesce((sw * 1000) // nb, 0)::BIGINT AS lm_score
          |           FROM nr LEFT JOIN sc USING (doc_id)),
          |b AS (SELECT lm_score,
          |             ntile(3) OVER (ORDER BY lm_score DESC, doc_id) AS bucket
          |      FROM scores)
          |SELECT cast(bucket as bigint) AS bucket, count(*) AS n_docs,
          |       min(lm_score) AS min_score, max(lm_score) AS max_score,
          |       cast(sum(lm_score) as bigint) AS sum_score
          |FROM b GROUP BY 1""".stripMargin),
    // winnowing (MOSS) rolling-hash sketch. XXH64 is not reproducible in
    // the oracle engine, so the sketch SIZE is gated against its provable
    // bounds instead (upgraded from rows-only): per doc the query emits
    // n_windows and n_shingles — both independently recomputable from
    // the text by the oracle (window count is normalized-length
    // arithmetic; distinct 5-grams = distinct 5-gram hashes absent a
    // 64-bit collision, none on this corpus) — plus bounds_ok asserting
    // the winnow selection contract: (a) one fingerprint per window at
    // most per position → s ≤ min(windows, shingles); (b) any window
    // selects something → windows > 0 ⇒ s ≥ 1; (c) a selected hash
    // covers ≤ w consecutive windows, so with all-distinct shingles
    // s ≥ ⌈windows/w⌉. Wrong k/w, a broken rolling window, or a
    // mis-normalization shifts n_windows/n_shingles or breaks a bound
    // and fails the hash gate (measured violations = 0 at every sf).
    Record("text_fingerprint", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        size(TextAnalysis.winnowFingerprint(col("text"), k = 5, w = 4))
          .cast("long").as("n_fingerprints")),
      // the run's sketch sizes against bounds recomputed from the text
      check = Some((s, dir, run) =>
        t(s, dir, "documents").select(col("doc_id"),
            length(regexp_replace(lower(col("text")), "[\\s]+", " "))
              .cast("long").as("normlen"),
            size(Dedup.shingleHashes(col("text"), 5)).cast("long").as("n_shingles"))
          .join(run, Seq("doc_id"))
          .withColumn("m", greatest(col("normlen") - 4, lit(0L)))
          .withColumn("n_windows", greatest(col("m") - 3, lit(0L)))
          .select(col("doc_id"), col("n_windows"), col("n_shingles"),
            (col("n_fingerprints") <= least(col("n_windows"), col("n_shingles")) &&
              (col("n_windows") === 0 || col("n_fingerprints") >= 1) &&
              (col("n_shingles") =!= col("m") || col("n_windows") === 0 ||
                col("n_fingerprints") >= ceil(col("n_windows") / lit(4.0)))).as("bounds_ok"))),
      // winnow-sketch size bounds: n_windows and n_shingles recomputed
      // from the text, bounds_ok expected true (see the query's scaladoc)
      oracle =
        """WITH d AS (
          |  SELECT doc_id, lower(regexp_replace(text, '[\t\n\x0b\f\r ]+', ' ', 'g')) AS t
          |  FROM documents),
          |g AS (
          |  SELECT doc_id, length(t) AS normlen,
          |         CASE WHEN length(t) < 5 THEN [t]
          |              ELSE list_distinct([substr(t, i, 5) for i in range(1, length(t) - 3)]) END AS sh
          |  FROM d)
          |SELECT doc_id,
          |       greatest(greatest(normlen - 4, 0) - 3, 0)::BIGINT AS n_windows,
          |       len(sh)::BIGINT AS n_shingles,
          |       true AS bounds_ok
          |FROM g""".stripMargin),
    // closed-form model DISTILLATION — fit a cheap linear proxy of the
    // corpus-trained LM quality score from scan-time features
    // (lm_score ≈ b0 + b1·n_chars + b2·n_tokens) by exact least
    // squares: the 3-unknown normal equations' Gram matrix accumulates
    // in ONE aggregation pass (9 integer sums — at 100 TB this is a
    // single map-side-combined scan, the MLlib-free regression
    // primitive), then Cramer's rule solves it on the driver in BigInt
    // (determinants overflow long; nothing data-sized leaves the
    // executors). Coefficients emitted in truncated milli units —
    // BigInt /, DuckDB //, and Spark div all truncate toward zero, so
    // the oracle replays the entire fit exactly, negative slopes
    // included. The distilled scorer is what a pipeline runs at ingest
    // when the full LM pass is too expensive per shard.
    Record("ml_linreg_distill", (s, dir) => {
      val docs = t(s, dir, "documents")
      val d = docs
        .select(col("doc_id"), col("n_chars").as("x1"),
          TextAnalysis.tokenCount(col("text")).as("x2"))
        .join(TextAnalysis.lmScore(docs, "doc_id", "text"), Seq("doc_id"))
        .select(col("x1"), col("x2"), col("lm_score").as("yv"))
      // Gram sums accumulate in decimal(38,0), not LongType: Spark's
      // long sum WRAPS silently at 2^63, and at the 100 TB design point
      // sum(x1*x1) approaches Long range where no oracle would catch the
      // corruption. The DuckDB oracle already sums in HUGEINT; decimal
      // keeps both sides exact (row count bounded by 38-digit headroom,
      // ~1e19 rows at x1*x1 ≤ 1e19 — far past any real corpus).
      // factors cast BEFORE the multiply — a Long×Long product wraps
      // before any widening cast could save it
      def dec(name: String): Column = col(name).cast("decimal(19,0)")
      def dsum(c: Column): Column = sum(c.cast("decimal(38,0)"))
      val r = d.agg(
        count(lit(1)).as("n"),
        dsum(dec("x1")).as("s1"), dsum(dec("x2")).as("s2"),
        dsum(dec("x1") * dec("x1")).as("s11"),
        dsum(dec("x1") * dec("x2")).as("s12"),
        dsum(dec("x2") * dec("x2")).as("s22"),
        dsum(dec("yv")).as("sy"),
        dsum(dec("x1") * dec("yv")).as("s1y"),
        dsum(dec("x2") * dec("yv")).as("s2y")).collect()(0)
      val sums = BigInt(r.getLong(0)) +:
        (1 until 9).map(i => BigInt(r.getDecimal(i).toBigInteger))
      val (b0, b1, b2, ok) = linregMilliBig(sums)
      import s.implicits._
      Seq((r.getLong(0), b0, b1, b2, ok))
        .toDF("n_docs", "beta0_milli", "beta1_milli", "beta2_milli",
          "det_nonzero")
    },
      // full replay of the closed-form fit: the text_lm_score training
      // CTEs produce y, the Gram sums accumulate in HUGEINT (the 3×3
      // determinants reach ~1e34), Cramer's rule verbatim; // and
      // BigInt / both truncate toward zero (verified incl. negatives)
      oracle =
        """WITH nr AS (SELECT doc_id, text,
          |    regexp_replace(regexp_replace(lower(text), '[\t\n\x0b\f\r ]', ' ', 'g'),
          |                   '[^a-z ]', '#', 'g') AS t
          |  FROM documents),
          |g AS (SELECT doc_id, unnest([substr(t, i, 2) for i in range(1, len(t))]) AS bg
          |      FROM nr WHERE len(t) >= 2),
          |w AS (SELECT bg, length(bin(1 + count(*))) - 1 AS w FROM g GROUP BY bg),
          |sc AS (SELECT doc_id, sum(w)::BIGINT AS sw, count(*)::BIGINT AS nb
          |       FROM g JOIN w USING (bg) GROUP BY doc_id),
          |f AS (SELECT d.n_chars::BIGINT AS x1,
          |             len(regexp_extract_all(d.text, '[^\t\n\x0b\f\r ]+'))::BIGINT AS x2,
          |             coalesce(s.sw // s.nb, 0)::BIGINT AS y
          |      FROM documents d LEFT JOIN sc s USING (doc_id)),
          |m AS (SELECT count(*)::HUGEINT AS n,
          |             sum(x1)::HUGEINT AS s1, sum(x2)::HUGEINT AS s2,
          |             sum(x1*x1)::HUGEINT AS s11, sum(x1*x2)::HUGEINT AS s12,
          |             sum(x2*x2)::HUGEINT AS s22, sum(y)::HUGEINT AS sy,
          |             sum(x1*y)::HUGEINT AS s1y, sum(x2*y)::HUGEINT AS s2y
          |      FROM f),
          |d3 AS (SELECT n,
          |  n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det,
          |  sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y) AS det0,
          |  n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2) AS det1,
          |  n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2) AS det2
          |  FROM m)
          |SELECT n::BIGINT AS n_docs,
          |  (CASE WHEN det <> 0 THEN ((det0 * 1000) // det)::BIGINT ELSE 0 END) AS beta0_milli,
          |  (CASE WHEN det <> 0 THEN ((det1 * 1000) // det)::BIGINT ELSE 0 END) AS beta1_milli,
          |  (CASE WHEN det <> 0 THEN ((det2 * 1000) // det)::BIGINT ELSE 0 END) AS beta2_milli,
          |  det <> 0 AS det_nonzero
          |FROM d3""".stripMargin),
    Record("text_quality", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality")),
      // mirrors qualityScore's IEEE arithmetic term by term, same
      // left-associated evaluation order → bit-exact doubles
      oracle =
        """WITH s AS (SELECT doc_id,
          |    length(text)::DOUBLE AS len,
          |    len(regexp_extract_all(text, '\p{L}'))::DOUBLE AS n_alpha,
          |    len(regexp_extract_all(text, '[!-/:-@\[-`{-~]'))::DOUBLE AS n_punct,
          |    len(regexp_extract_all(text, '[^\t\n\x0b\f\r ]+'))::DOUBLE AS n_tokens
          |  FROM documents)
          |SELECT doc_id,
          |  greatest(0.0, least(1.0,
          |    (CASE WHEN len = 0 THEN 0.0 ELSE n_alpha / len END) * 0.4
          |    + least(len / 200.0, 1.0) * 0.2
          |    + least(n_tokens / 30.0, 1.0) * 0.2
          |    + greatest(0.0, 1.0 - (CASE WHEN len = 0 THEN 0.0 ELSE n_punct / len END) * 4.0) * 0.2
          |  )) AS quality
          |FROM s""".stripMargin),
    // frequency-based quality signal (the KenLM-free cousin of
    // perplexity filtering): score each doc by the corpus frequency of
    // its tokens — rare-token-heavy docs (garbled text, codes, OCR
    // noise) score low. Integer surface: per-doc token count, summed
    // corpus frequency, and their integer quotient. One explode, one
    // frequency aggregate, one re-join keyed on the token
    Record("text_token_freq_score", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), "[\\t\\n\\x0B\\f\\r ]+")).as("term"))
        .filter(col("term") =!= "")
      val freq = toks.groupBy(col("term")).agg(count(lit(1)).as("f"))
      toks.join(freq, Seq("term"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("f")).as("sum_tok_freq"))
        .select(col("doc_id"), col("n_tokens"), col("sum_tok_freq"),
          expr("sum_tok_freq div n_tokens").as("avg_tok_freq"))
    },
      oracle =
        """WITH toks AS (
          |  SELECT doc_id,
          |         unnest(string_split_regex(lower(text), '[\t\n\x0b\f\r ]+')) AS term
          |  FROM documents),
          |t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
          |freq AS (SELECT term, count(*) AS f FROM t2 GROUP BY 1)
          |SELECT doc_id, count(*) AS n_tokens,
          |       cast(sum(f) as bigint) AS sum_tok_freq,
          |       cast(sum(f) // count(*) as bigint) AS avg_tok_freq
          |FROM t2 JOIN freq USING (term)
          |GROUP BY doc_id""".stripMargin),
    // corpus vocabulary: top terms by document frequency
    Record("text_topterms", (s, dir) =>
      TextAnalysis.topTerms(t(s, dir, "documents"), "doc_id", "text", k = 30),
      // same explicit whitespace class as the Spark split; ASCII
      // lowercasing agrees between engines (and the corpus is ASCII)
      oracle =
        """SELECT term, count(*) AS n_occurrences,
          |       count(DISTINCT doc_id) AS doc_freq
          |FROM (SELECT doc_id,
          |        unnest(string_split_regex(lower(text), '[\t\n\x0b\f\r ]+')) AS term
          |      FROM documents)
          |WHERE term <> ''
          |GROUP BY term
          |ORDER BY doc_freq DESC, n_occurrences DESC, term ASC
          |LIMIT 30""".stripMargin),
    // sequence-packing plan: concatenate-and-cut docs into 512-token
    // context windows, 32 independent shards (each shard packs its own
    // doc_id-ordered stream, so the cumulative sum is a per-shard
    // window — partition-parallel, no global sort; the shard count is
    // the parallelism knob at corpus scale). A doc's bin is the window
    // containing its FIRST token: (cum - n_tok) div 512 — exact
    // integer arithmetic, replayed verbatim by the oracle. 512 (not
    // 2048) so the sf0.01 gate crosses bin boundaries within a shard
    Record("text_pack", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(32)).cast("int").as("shard"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      d.withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("bin", expr("(cum - n_tok) div 512"))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    },
      oracle =
        """WITH d AS (SELECT doc_id, cast(doc_id % 32 as int) AS shard,
          |    len(regexp_extract_all(text, '[^\t\n\x0b\f\r ]+'))::BIGINT AS n_tok
          |  FROM documents),
          |c AS (SELECT shard, doc_id, n_tok,
          |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS cum FROM d)
          |SELECT shard, cast((cum - n_tok) // 512 AS BIGINT) AS bin,
          |       count(*) AS n_docs, cast(sum(n_tok) as bigint) AS n_tokens
          |FROM c GROUP BY 1, 2""".stripMargin),
    // per-document tf·idf top-3 (integer-only surface: score stays in
    // the plan, ranking proven identical because idf = N/df orders the
    // same as log(N/df))
    Record("text_tfidf", (s, dir) =>
      TextAnalysis.tfidfTopTerms(
        spreadForCpu(t(s, dir, "documents").select(col("doc_id"), col("text")),
          col("doc_id")),
        "doc_id", "text", k = 3),
      // tf*n_docs/df is a correctly-rounded IEEE division of exact
      // integers on both engines, so the per-doc ordering is identical;
      // the double itself never appears in the output
      oracle =
        """WITH terms AS (
          |  SELECT doc_id,
          |         unnest(string_split_regex(lower(text), '[\t\n\x0b\f\r ]+')) AS term
          |  FROM documents),
          |tfx AS (SELECT doc_id, term, count(*) AS tf
          |        FROM terms WHERE term <> '' GROUP BY 1, 2),
          |dfx AS (SELECT term, count(*) AS df FROM tfx GROUP BY 1),
          |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
          |SELECT doc_id, term, tf, df, rank FROM (
          |  SELECT tfx.doc_id, tfx.term, tf, df,
          |         row_number() OVER (PARTITION BY tfx.doc_id
          |           ORDER BY tf * n_docs / df DESC, tfx.term ASC) AS rank
          |  FROM tfx JOIN dfx USING (term), n)
          |WHERE rank <= 3""".stripMargin),
    // PII scrub: redaction counts + hash of the scrubbed text (proves
    // the replacement itself matches, not just the counts)
    Record("text_pii_scrub", (s, dir) => {
      val (nEmail, nPhone) = TextAnalysis.piiCounts(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        nEmail.as("n_emails"), nPhone.as("n_phones"),
        md5(TextAnalysis.scrubPii(col("text"))).as("scrubbed_hash"))
    },
      // identical RE2-safe patterns both sides; 'g' flag = Spark's
      // replace-all default; scrubbed_hash proves replacement parity
      oracle =
        """SELECT doc_id,
          |  len(regexp_extract_all(text,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
          |  len(regexp_extract_all(text,
          |    '\+?[0-9][0-9()\- ]{6,}[0-9]'))::BIGINT AS n_phones,
          |  md5(regexp_replace(regexp_replace(text,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |    '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g')) AS scrubbed_hash
          |FROM documents""".stripMargin),
    // boilerplate: word 8-grams recurring across >= 2 distinct docs
    // (MassiveText-style repeated-n-gram cleaning signal)
    Record("text_boilerplate", (s, dir) =>
      TextAnalysis.repeatedPhrases(t(s, dir, "documents"), "doc_id", "text",
        n = 8, minDocs = 2, k = 20),
      // word 8-grams over the same portable ws split; w[i:i+7] is the
      // 8-element inclusive slice, range is stop-exclusive
      oracle =
        """WITH t AS (SELECT doc_id,
          |    list_filter(string_split_regex(lower(text), '[\t\n\x0b\f\r ]+'),
          |                x -> x <> '') AS w
          |  FROM documents),
          |g AS (SELECT doc_id,
          |        unnest([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]) AS gram
          |      FROM t WHERE len(w) >= 8),
          |f AS (SELECT gram, doc_id, count(*) AS n_in_doc FROM g GROUP BY 1, 2),
          |a AS (SELECT gram, count(*) AS n_docs,
          |             cast(sum(n_in_doc) as bigint) AS n_total
          |      FROM f GROUP BY 1)
          |SELECT gram, n_docs, n_total FROM a WHERE n_docs >= 2
          |ORDER BY n_docs DESC, n_total DESC, gram ASC LIMIT 20""".stripMargin),
    // cross-doc segment dedup (CCNet's "drop duplicated lines",
    // generalized to 5-word segments — this corpus has no newlines):
    // segments appearing in >= 3 distinct docs are dropped everywhere
    // and each doc is reassembled from its kept segments in order. The
    // oracle replays the whole thing string-for-string (split, slice,
    // doc-frequency, filter, ordered reassembly). The run is the hashed
    // production form (8-byte keys in the frequency shuffle, Zipf-head
    // dropped set broadcast); its check holds it equal to the
    // raw-string segmentDedup
    Record("text_seg_dedup", (s, dir) =>
      // spread the segment/hash kernel stages: both of the operator's
      // consumers (df build + reassembly re-scan) descend from the
      // single-split local scan and ran as 1-task stages (JobProf:
      // all 5 jobs 1-task, ~1.0 s serial); measured 0.88 → 0.73 s.
      // Caller-level, not inside segmentDedupHashed: report_sources
      // joins the narrow boiler output against its own per-doc scan
      // and measured 1.6× WORSE with the spread inside the operator.
      // No-op at scale (≥ cores splits from maxPartitionBytes).
      TextAnalysis.segmentDedupHashed(
        spreadForCpu(t(s, dir, "documents").select(col("doc_id"), col("text")),
          col("doc_id")),
        "doc_id", "text", w = 5, maxDocs = 3),
      check = Some(sameRows((s, dir) =>
        TextAnalysis.segmentDedup(t(s, dir, "documents"), "doc_id", "text",
          w = 5, maxDocs = 3))),
      // string-for-string replay of the exact segment-dedup form:
      // same 5-word split (both engines split on literal space), same
      // doc-frequency threshold, same ordered reassembly. count(*)
      // FILTER is BIGINT like Spark's sum(when); string_agg over zero
      // kept rows is NULL, coalesced to '' to match concat_ws
      oracle =
        """WITH words AS (
          |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |segs AS (
          |  SELECT doc_id, g AS seg_no,
          |         array_to_string(ws[(g*5+1):((g+1)*5)], ' ') AS seg
          |  FROM words, unnest(range(0, (len(ws)+4)//5)) AS t(g)),
          |freq AS (
          |  SELECT seg, count(DISTINCT doc_id) AS nd FROM segs GROUP BY seg)
          |SELECT s.doc_id,
          |       count(*) AS n_segs,
          |       count(*) FILTER (WHERE f.nd < 3) AS n_kept,
          |       coalesce(string_agg(s.seg, ' ' ORDER BY s.seg_no)
          |                  FILTER (WHERE f.nd < 3), '') AS clean
          |FROM segs s JOIN freq f USING (seg)
          |GROUP BY s.doc_id""".stripMargin),
    // context-window packing: fixed-char chunks with overlap
    Record("text_chunks", (s, dir) =>
      TextAnalysis.chunk(t(s, dir, "documents"), "doc_id", "text",
        size = 400, overlap = 100),
      // starts 1, 1+stride, … ≤ length on both sides (Spark sequence is
      // stop-inclusive; DuckDB range is stop-exclusive, hence length+1)
      oracle =
        """SELECT doc_id, start,
          |       length(substr(text, start::INT, 400))::BIGINT AS chunk_len,
          |       md5(substr(text, start::INT, 400)) AS chunk_hash
          |FROM (SELECT doc_id, text,
          |        unnest(range(1, length(text) + 1, 300)) AS start
          |      FROM documents)""".stripMargin),
    // benchmark decontamination: training docs sharing any word 8-gram
    // with the eval slice (doc_id % 10 == 0) — the GPT-3/PaLM overlap
    // filter. The run broadcasts 8-byte gram hashes; its check holds it
    // equal to the exact-gram join, which DuckDB replays verbatim
    Record("text_decontaminate", (s, dir) => decontaminated(s, dir, hashGrams = true),
      check = Some(sameRows((s, dir) => decontaminated(s, dir, hashGrams = false))),
      // same tokenization as text_boilerplate; benchmark slice is
      // doc_id % 10 = 0, n_contaminated = distinct overlapping 8-grams
      oracle =
        """WITH t AS (SELECT doc_id,
          |    list_filter(string_split_regex(lower(text), '[\t\n\x0b\f\r ]+'),
          |                x -> x <> '') AS w
          |  FROM documents),
          |g AS (SELECT doc_id,
          |        unnest([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]) AS gram
          |      FROM t WHERE len(w) >= 8),
          |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
          |tr AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 10 <> 0)
          |SELECT tr.doc_id, count(*)::BIGINT AS n_contaminated
          |FROM tr JOIN b USING (gram) GROUP BY 1""".stripMargin),
    // corpus-overlap ESTIMATION (the scale path decontaminate can't
    // take): KMV-sketch the 5-gram shingle sets of the train and eval
    // splits and estimate their Jaccard from two k=1024 sketches —
    // at 100 TB the exact shingle join is the thing you cannot afford,
    // and HLL can union but not intersect. The estimate is md5-based
    // and deterministic, so the oracle recomputes it EXACTLY. The run is
    // the sketch-only estimate; its check computes the exact Jaccard
    // (affordable at sf, the verifier) and gates |est − exact| ≤ 300 bp
    // (k=1024 ⇒ σ ≈ 39 bp at J ≈ 1.6%, so ~7σ). A pre-explode spread of
    // the corpus scan was tried and REVERTED (r12): 0.58 → 1.03 s — the
    // exchange barrier costs more than the two branches' 1-task
    // explodes, which already run concurrently.
    Record("set_overlap_kmv", (s, dir) => {
      val (ga, gb) = overlapGrams(s, dir)
      Kmv.jaccardEstimate(
        Kmv.sketch(ga, col("gram"), 1024), Kmv.sketch(gb, col("gram"), 1024), k = 1024)
    },
      check = Some((s, dir, run) => {
        val (ga, gb) = overlapGrams(s, dir)
        val da = ga.distinct()
        val db = gb.distinct()
        val exact = da.agg(count(lit(1)).as("na"))
          .crossJoin(db.agg(count(lit(1)).as("nb")))
          .crossJoin(da.join(db, Seq("gram"), "left_semi")
            .agg(count(lit(1)).as("ni")))
          .select(expr("10000 * ni div greatest(na + nb - ni, 1)")
            .as("jaccard_bp_exact"))
        run.crossJoin(exact)
          .select(col("n_union_sk"), col("n_both"), col("jaccard_bp_est"),
            col("jaccard_bp_exact"),
            (abs(col("jaccard_bp_est") - col("jaccard_bp_exact")) <= 300)
              .as("err_ok"))
      }),
      // the oracle replays BOTH the exact Jaccard and the full KMV
      // estimator (bottom-1024 md5 priorities per split, union bottom-k,
      // both-membership fraction) — the estimate is deterministic, so it
      // hash-checks, and err_ok re-derives on the oracle side too
      oracle =
        """WITH t AS (SELECT
          |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b,
          |    list_filter(string_split_regex(lower(text), '[\t\n\x0b\f\r ]+'),
          |                x -> x <> '') AS w
          |  FROM documents),
          |g AS (SELECT b,
          |        unnest([array_to_string(w[i:i+4], ' ') for i in range(1, len(w) - 3)]) AS gram
          |      FROM t WHERE len(w) >= 5),
          |pa AS (SELECT DISTINCT
          |    CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS pri FROM g WHERE b < 80),
          |pb AS (SELECT DISTINCT
          |    CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS pri FROM g WHERE b >= 80),
          |ska AS (SELECT pri FROM pa ORDER BY pri LIMIT 1024),
          |skb AS (SELECT pri FROM pb ORDER BY pri LIMIT 1024),
          |u AS (SELECT pri, max(in_a) AS in_a, max(in_b) AS in_b FROM (
          |        SELECT pri, 1 AS in_a, 0 AS in_b FROM ska
          |        UNION ALL SELECT pri, 0, 1 FROM skb) x
          |      GROUP BY pri ORDER BY pri LIMIT 1024),
          |est AS (SELECT count(*)::BIGINT AS n_union_sk,
          |        coalesce(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END), 0)::BIGINT AS n_both
          |      FROM u),
          |ex AS (SELECT
          |    (SELECT count(DISTINCT gram) FROM g WHERE b < 80) AS na,
          |    (SELECT count(DISTINCT gram) FROM g WHERE b >= 80) AS nb,
          |    (SELECT count(*) FROM (SELECT DISTINCT gram FROM g WHERE b < 80) a
          |       JOIN (SELECT DISTINCT gram FROM g WHERE b >= 80) e2 USING (gram)) AS ni)
          |SELECT n_union_sk, n_both,
          |       CAST(10000 * n_both // greatest(n_union_sk, 1) AS BIGINT) AS jaccard_bp_est,
          |       CAST(10000 * ni // greatest(na + nb - ni, 1) AS BIGINT) AS jaccard_bp_exact,
          |       abs(10000 * n_both // greatest(n_union_sk, 1)
          |           - 10000 * ni // greatest(na + nb - ni, 1)) <= 300 AS err_ok
          |FROM est, ex""".stripMargin),
    // within-doc repetition signals (Gopher dup-n-gram quality filters):
    // unigram + word-3-gram duplicate counts and the top-gram
    // multiplicity, all computed inside the row (no explode/shuffle);
    // the oracle replays the unnest+groupBy form
    Record("text_repetition", (s, dir) =>
      TextAnalysis.repetitionSignals(t(s, dir, "documents"),
        "doc_id", "text", n = 3),
      // the oracle replays the repetition signals as the naive
      // unnest + groupBy plan the Spark side deliberately avoids
      // (in-row array_distinct / sorted-run fold — see
      // TextAnalysis.repetitionSignals); 3-gram = w[i:i+2], i ≤ len-2
      oracle =
        """WITH t AS (SELECT doc_id,
          |    list_filter(string_split_regex(lower(text), '[\t\n\x0b\f\r ]+'),
          |                x -> x <> '') AS w
          |  FROM documents),
          |g AS (SELECT doc_id, w,
          |        CASE WHEN len(w) >= 3
          |          THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]
          |          ELSE [] END AS gr
          |      FROM t),
          |top AS (SELECT doc_id, max(cnt) AS top_cnt FROM (
          |          SELECT doc_id, x, count(*) AS cnt
          |          FROM (SELECT doc_id, unnest(gr) AS x FROM g)
          |          GROUP BY doc_id, x)
          |        GROUP BY doc_id)
          |SELECT g.doc_id,
          |       len(w)::BIGINT AS n_words,
          |       len(list_distinct(w))::BIGINT AS n_distinct_words,
          |       len(gr)::BIGINT AS n_grams,
          |       len(list_distinct(gr))::BIGINT AS n_distinct_grams,
          |       coalesce(top.top_cnt, 0)::BIGINT AS top_gram_count
          |FROM g LEFT JOIN top ON g.doc_id = top.doc_id""".stripMargin),
    // cross-document EXACT-SUBSTRING duplication signal (the ExactSubstr
    // dedup measure of Lee et al. 2022, arXiv:2107.06499): per doc, how
    // many of its distinct char-20-grams also occur in at least one
    // OTHER document. The run shuffles 8-byte rolling-hash grams (one
    // codegen'd kernel pass per doc), not 20-char substrings; the
    // per-gram doc count is a WINDOW over the posting list (postings
    // are distinct per (doc, gram), so count(*) = doc count) — one
    // gram-keyed exchange + one doc-keyed aggregate exchange, instead of
    // the literal-substring form's groupBy + re-join (three). Its check
    // holds it equal to that literal form (dupSubstringsExact), which
    // DuckDB replays verbatim
    Record("text_dup_substrings", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // spread the rolling-hash kernel stage: the single-split local
      // scan serialized scan+kernel+explode into ONE task (JobProf:
      // 0.9 s of the row); no-op at scale where maxPartitionBytes
      // supplies the split count (r12 §2.6, the text_tfidf medicine)
      val grams = spreadForCpu(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(col("doc_id"),
          explode(Dedup.shingleHashes(col("text"), 20)).as("g"))
      grams
        .withColumn("docs", count(lit(1)).over(Window.partitionBy(col("g"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("docs") >= 2, 1L).otherwise(0L)).as("n_shared_grams"))
    },
      check = Some(sameRows(dupSubstringsExact)),
      oracle =
        """WITH grams AS (
          |  SELECT DISTINCT doc_id, g FROM (
          |    SELECT doc_id,
          |           unnest(list_transform(generate_series(1, greatest(len(text) - 19, 0)),
          |                                 i -> substr(text, i, 20))) AS g
          |    FROM documents)),
          |dfg AS (SELECT g, count(DISTINCT doc_id) AS docs FROM grams GROUP BY 1)
          |SELECT doc_id, count(*) AS n_grams,
          |       cast(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) as bigint) AS n_shared_grams
          |FROM grams JOIN dfg USING (g) GROUP BY 1""".stripMargin),
    // the full training-data prep pipeline as ONE declarative plan:
    // language filter → quality floor → exact dedup keep-first →
    // benchmark decontamination → chunk count. Single-pass scoring in
    // the scan stage (langid/quality are codegen'd kernels), one
    // content-hash shuffle for the dedup window, broadcast gram
    // semi-join for decontamination — no stage reads the corpus twice
    Record("pipeline_prepare", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val scored = docs.filter(col("doc_id") % 10 =!= 0)
        .withColumn("lang_pred", TextAnalysis.langId(col("text")))
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .filter(col("lang_pred") === "en" && col("quality") >= 0.5)
      val w = Window
        .partitionBy(TextAnalysis.fingerprintMd5(col("text")))
        .orderBy(col("doc_id"))
      val kept = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      val contaminated = TextAnalysis
        .decontaminate(kept, bench, "doc_id", "text", n = 8)
        .select(col("doc_id"))
      kept.join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("quality"),
          expr("(length(text) - 1) div 300 + 1").cast("long").as("n_chunks"))
    },
      // the composed pipeline, replayed stage by stage in SQL: langid +
      // quality CTEs (same formulas as text_langid/text_quality), exact
      // dedup keep-first via row_number over the content hash, 8-gram
      // decontamination vs the doc_id % 10 = 0 slice, chunk count
      oracle =
        """WITH w AS (SELECT doc_id,
          |    str_split(regexp_replace(lower(text), '[\t\n\x0b\f\r ]+', ' ', 'g'), ' ') AS t
          |  FROM documents),
          |c AS (SELECT doc_id,
          |    len(list_filter(t, x -> x IN ('the','and','of','to','is','in','that','it'))) AS en,
          |    len(list_filter(t, x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) AS de,
          |    len(list_filter(t, x -> x IN ('le','la','les','et','est','une','que','pas'))) AS fr,
          |    len(list_filter(t, x -> x IN ('el','la','los','y','es','una','que','no'))) AS es,
          |    len(list_filter(t, x -> x IN ('il','la','che','e','di','un','per','non'))) AS it
          |  FROM w),
          |lang AS (SELECT doc_id,
          |  CASE WHEN greatest(en, de, fr, es, it) = 0 THEN 'und'
          |       WHEN en >= de AND en >= fr AND en >= es AND en >= it THEN 'en'
          |       WHEN de >= fr AND de >= es AND de >= it THEN 'de'
          |       WHEN fr >= es AND fr >= it THEN 'fr'
          |       WHEN es >= it THEN 'es'
          |       ELSE 'it' END AS lang_pred
          |  FROM c),
          |s AS (SELECT doc_id,
          |    length(text)::DOUBLE AS len,
          |    len(regexp_extract_all(text, '\p{L}'))::DOUBLE AS n_alpha,
          |    len(regexp_extract_all(text, '[!-/:-@\[-`{-~]'))::DOUBLE AS n_punct,
          |    len(regexp_extract_all(text, '[^\t\n\x0b\f\r ]+'))::DOUBLE AS n_tokens
          |  FROM documents),
          |qual AS (SELECT doc_id,
          |  greatest(0.0, least(1.0,
          |    (CASE WHEN len = 0 THEN 0.0 ELSE n_alpha / len END) * 0.4
          |    + least(len / 200.0, 1.0) * 0.2
          |    + least(n_tokens / 30.0, 1.0) * 0.2
          |    + greatest(0.0, 1.0 - (CASE WHEN len = 0 THEN 0.0 ELSE n_punct / len END) * 4.0) * 0.2
          |  )) AS quality
          |  FROM s),
          |surv AS (SELECT d.doc_id, d.text, qual.quality
          |  FROM documents d
          |  JOIN lang ON d.doc_id = lang.doc_id
          |  JOIN qual ON d.doc_id = qual.doc_id
          |  WHERE d.doc_id % 10 <> 0 AND lang.lang_pred = 'en' AND qual.quality >= 0.5),
          |kept AS (SELECT doc_id, text, quality FROM (
          |    SELECT *, row_number() OVER (
          |      PARTITION BY md5(lower(regexp_replace(text, '[\t\n\x0b\f\r ]+', ' ', 'g')))
          |      ORDER BY doc_id) AS rn
          |    FROM surv) WHERE rn = 1),
          |kw AS (SELECT doc_id,
          |    list_filter(string_split_regex(lower(text), '[\t\n\x0b\f\r ]+'),
          |                x -> x <> '') AS w
          |  FROM kept),
          |kg AS (SELECT doc_id,
          |        unnest([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]) AS gram
          |      FROM kw WHERE len(w) >= 8),
          |bw AS (SELECT doc_id,
          |    list_filter(string_split_regex(lower(text), '[\t\n\x0b\f\r ]+'),
          |                x -> x <> '') AS w
          |  FROM documents WHERE doc_id % 10 = 0),
          |bg AS (SELECT DISTINCT
          |        unnest([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]) AS gram
          |      FROM bw WHERE len(w) >= 8),
          |cont AS (SELECT DISTINCT kg.doc_id FROM kg JOIN bg USING (gram))
          |SELECT k.doc_id, k.quality,
          |       ((length(k.text) - 1) // 300 + 1)::BIGINT AS n_chunks
          |FROM kept k WHERE k.doc_id NOT IN (SELECT doc_id FROM cont)""".stripMargin),
    // duplicated-span REMOVAL (the C4/RefinedWeb cleaning transform —
    // text_seg_dedup IDENTIFIES cross-doc duplicate spans; this one
    // produces the cleaned corpus): each doc splits into consecutive
    // non-overlapping 10-word segments, segments appearing in >= 2
    // distinct documents are dropped, the survivors reassemble in
    // original order. Output is the per-doc cleaned-text digest +
    // kept/total counts, so the oracle replays the whole transform.
    // Plan: one segment explode, one df aggregate (seg -> distinct-doc
    // count), one join back, one per-doc ordered reassembly; the
    // collect_list is DOC-bounded (a document's own segments), never
    // corpus-bounded. At 100 TB the df shuffle should carry xxhash64
    // segment keys with the dropped set broadcast (text_seg_dedup's
    // hashed form) — the gate keeps full segment text so DuckDB can
    // replay exactly
    Record("text_clean_segments", (s, dir) =>
      cleanSegments(t(s, dir, "documents"), hashedDf = true),
      check = Some(sameRows((s, dir) =>
        cleanSegments(t(s, dir, "documents"), hashedDf = false))),
      oracle =
        """WITH w AS (
          |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
          |s AS (
          |  SELECT doc_id, i AS pos,
          |         array_to_string(words[(i*10+1):(i*10+10)], ' ') AS seg
          |  FROM w, unnest(range(cast(ceil(len(words) / 10.0) as bigint))) AS t(i)),
          |d AS (SELECT seg, count(DISTINCT doc_id) AS df FROM s GROUP BY seg),
          |k AS (SELECT s.*, (d.df < 2) AS kept FROM s JOIN d USING (seg))
          |SELECT doc_id, count(*) AS n_segs,
          |       cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) as bigint) AS n_kept,
          |       md5(coalesce(
          |         string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE kept),
          |         '')) AS clean_md5,
          |       cast(length(coalesce(
          |         string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE kept),
          |         '')) as bigint) AS clean_len
          |FROM k GROUP BY doc_id""".stripMargin),
    // BM25 search scoring over the corpus, all-integer: the retrieval
    // primitive a text engine owes its users. Exact-portability choices:
    // idf is the linearized odds ratio ((N − df)·1000) div df (monotone
    // in the classic ln((N−df+.5)/(df+.5)), positive, and — unlike a
    // floor-log2 — not quantized to zero on a corpus where every query
    // term sits in ~78% of docs); tf saturation is BM25's k1 = 1.2,
    // b = 0.75 in milli-units (2200·tf numerator; tf·1000 + 300 +
    // 900·len_milli div 1000 denominator, len_milli = relative doc
    // length). Every step is integer multiply/div, so DuckDB replays
    // the scores bit-for-bit. Plan: tokens filter to the 3-term query
    // INSIDE the array before the explode (slim explode), tf/df are two
    // aggregates, corpus stats broadcast, top-50 via rank — the
    // WindowGroupLimit/TakeOrdered shape at scale
    Record("text_bm25", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val q = Seq("table", "query", "vector")
      val qLit = q.map(x => s"'$x'").mkString(",")
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), expr(
          "filter(split(lower(text), '[\\\\t\\\\n\\\\x0b\\\\f\\\\r ]+'), x -> x != '')")
          .as("all_toks"))
        .select(col("doc_id"), size(col("all_toks")).cast("long").as("len"),
          expr(s"filter(all_toks, x -> x IN ($qLit))").as("hits"))
      val corpus = toks.agg(count(lit(1)).as("n_docs"),
        sum(col("len")).as("tot_tok"))
      val tf = toks.select(col("doc_id"), col("len"), explode(col("hits")).as("term"))
        .groupBy(col("doc_id"), col("len"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val scored = tf.join(broadcast(df_), Seq("term"))
        .crossJoin(broadcast(corpus))
        .withColumn("idf_milli", expr("((n_docs - df) * 1000) div df"))
        .withColumn("len_milli", expr("(len * 1000) div (tot_tok div n_docs)"))
        .withColumn("s_milli", expr(
          "(idf_milli * tf * 2200) div (tf * 1000 + 300 + (900 * len_milli) div 1000)"))
        .groupBy(col("doc_id"))
        .agg(sum(col("s_milli")).as("score_milli"))
      // heavy ranking as TakeOrderedAndProject (per-partition bottom-k
      // + merge — never a single-partition global window over the full
      // scored set); the rank window then orders only the 50 survivors
      scored.orderBy(col("score_milli").desc, col("doc_id").asc).limit(50)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score_milli").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("score_milli"), col("rank").cast("long").as("rank"))
    },
      oracle =
        """WITH toks AS (
          |  SELECT doc_id,
          |         [x FOR x IN string_split_regex(lower(text), '[\t\n\x0b\f\r ]+')
          |          IF x <> ''] AS all_toks
          |  FROM documents),
          |d AS (
          |  SELECT doc_id, cast(len(all_toks) as bigint) AS len,
          |         [x FOR x IN all_toks
          |          IF x IN ('table', 'query', 'vector')] AS hits
          |  FROM toks),
          |corpus AS (
          |  SELECT count(*) AS n_docs, cast(sum(len) as bigint) AS tot_tok
          |  FROM d),
          |tf AS (
          |  SELECT doc_id, len, term, count(*) AS tf
          |  FROM (SELECT doc_id, len, unnest(hits) AS term FROM d)
          |  GROUP BY doc_id, len, term),
          |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          |s AS (
          |  SELECT doc_id,
          |    cast(sum(
          |      (((n_docs - df.df) * 1000) // df.df) * tf.tf * 2200 //
          |      (tf.tf * 1000 + 300 +
          |       (900 * ((len * 1000) // (tot_tok // n_docs))) // 1000)
          |    ) as bigint) AS score_milli
          |  FROM tf JOIN df USING (term), corpus
          |  GROUP BY doc_id)
          |SELECT doc_id, score_milli, "rank" FROM (
          |  SELECT *, cast(row_number() OVER
          |    (ORDER BY score_milli DESC, doc_id ASC) as bigint) AS "rank"
          |  FROM s)
          |WHERE "rank" <= 50""".stripMargin),
  )
}
