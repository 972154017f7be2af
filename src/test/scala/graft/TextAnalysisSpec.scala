package graft

import graft.ops.TextAnalysis
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column): T =
    spark.range(1).select(c.as("r")).collect().head.getAs[T]("r")

  test("tokenCount: empty, blank, multi-space") {
    assert(one[Long](TextAnalysis.tokenCount(lit(""))) === 0L)
    assert(one[Long](TextAnalysis.tokenCount(lit("   "))) === 0L)
    assert(one[Long](TextAnalysis.tokenCount(lit("a b  c\td"))) === 4L)
  }

  test("subwordCount: letter runs + digit runs + punctuation") {
    // "hello" "," "world" "42" "!" → 5
    assert(one[Long](TextAnalysis.subwordCount(lit("hello, world42!"))) === 5L)
    assert(one[Long](TextAnalysis.subwordCount(lit(""))) === 0L)
  }

  test("langId picks the stopword-dominant language") {
    assert(one[String](TextAnalysis.langId(
      lit("the cat and the dog sat in the garden of the house"))) === "en")
    assert(one[String](TextAnalysis.langId(
      lit("der hund und die katze sind nicht in der küche"))) === "de")
    assert(one[String](TextAnalysis.langId(
      lit("le chien et la maison est une belle chose que pas"))) === "fr")
    assert(one[String](TextAnalysis.langId(lit("xyzzy qwerty 12345"))) === "und")
  }

  test("qualityScore stays in [0,1] and ranks text sensibly") {
    val junk = one[Double](TextAnalysis.qualityScore(lit("!!! ??? ### $$$")))
    val prose = one[Double](TextAnalysis.qualityScore(lit(
      "This is a well formed paragraph of reasonable length, containing many " +
      "ordinary words and a sensible amount of punctuation marks overall.")))
    assert(junk >= 0.0 && junk <= 1.0)
    assert(prose >= 0.0 && prose <= 1.0)
    assert(prose > junk)
  }

  test("fingerprints are whitespace/case invariant") {
    val a = one[String](TextAnalysis.fingerprintMd5(lit("Hello   World")))
    val b = one[String](TextAnalysis.fingerprintMd5(lit("hello world")))
    val c = one[String](TextAnalysis.fingerprintMd5(lit("hello worlds")))
    assert(a === b)
    assert(a !== c)
    val f1 = one[Long](TextAnalysis.fingerprint64(lit("Hello   World")))
    val f2 = one[Long](TextAnalysis.fingerprint64(lit("hello world")))
    assert(f1 === f2)
  }

  test("winnow fingerprints: shared-substring guarantee, sketch compression") {
    val k = 5; val w = 4
    def sketch(s: String): Seq[Long] =
      one[scala.collection.Seq[Long]](TextAnalysis.winnowFingerprint(lit(s), k, w)).toSeq
    val shared = "a genuinely shared span of text" // >> w+k-1 chars
    val s1 = sketch(s"left prefix $shared and one tail")
    val s2 = sketch(s"другой префикс $shared totally different end")
    // winnowing guarantee: any shared normalized substring of >= w+k-1
    // chars leaves at least one common fingerprint
    assert(s1.toSet.intersect(s2.toSet).nonEmpty)
    // sorted distinct
    assert(s1 === s1.distinct.sorted)
    // compression: sketch is a strict subset of the full gram set
    val full = one[scala.collection.Seq[Long]](
      graft.functions.TextHashFunctions.shingleHashes(lit(shared * 10), k)).toSeq
    val win = sketch(shared * 10)
    assert(win.size < full.size)
    assert(win.toSet.subsetOf(full.toSet))
    // short text: single fingerprint of the whole string
    assert(sketch("ab").size === 1)
  }

  test("PII scrub redacts planted emails and phones, counts them") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact bob@example.com or +1 (555) 123-4567 today"),
      (2L, "two mails a@b.io c.d+x@e-f.org, no phone"),
      (3L, "clean text with nothing to redact")).toDF("doc_id", "text")
    val (ne, np) = TextAnalysis.piiCounts(col("text"))
    val got = docs.select(col("doc_id"), ne.as("e"), np.as("p"),
      TextAnalysis.scrubPii(col("text")).as("s"))
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got(0)._2 === 1L && got(0)._3 === 1L)
    assert(got(0)._4 === "contact <EMAIL> or <PHONE> today")
    assert(got(1)._2 === 2L && got(1)._3 === 0L)
    assert(got(2)._2 === 0L && got(2)._3 === 0L)
    assert(got(2)._4 === "clean text with nothing to redact")
  }

  test("chunking covers every character with the configured overlap") {
    import spark.implicits._
    val docs = Seq((1L, "x" * 1000), (2L, "y" * 50)).toDF("doc_id", "text")
    val got = TextAnalysis.chunk(docs, "doc_id", "text", size = 400, overlap = 100)
      .select("doc_id", "start", "chunk_len")
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    // doc 1: starts 1, 301, 601, 901 — lens 400, 400, 400, 100
    assert(got(1L).sortBy(_._2).map(r => (r._2, r._3)).toSeq ===
      Seq((1L, 400L), (301L, 400L), (601L, 400L), (901L, 100L)))
    // short doc: one partial chunk
    assert(got(2L).toSeq === Seq((2L, 1L, 50L)))
    // coverage: last chunk reaches the end
    assert(got(1L).map(r => r._2 + r._3 - 1).max === 1000L)
  }

  test("chunking yields zero chunks for empty text instead of crashing") {
    import spark.implicits._
    // sequence(1, 0, +stride) throws 'Illegal sequence boundaries' at
    // runtime without the guard — one empty doc would fail the job
    val docs = Seq((1L, ""), (2L, "y" * 50), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunk(docs, "doc_id", "text", size = 400, overlap = 100)
      .select("doc_id").as[Long].collect().toSeq
    assert(got === Seq(2L))
  }

  test("repeated n-grams surface cross-document boilerplate only") {
    import spark.implicits._
    val boiler = "please subscribe to our newsletter for weekly updates"  // 8 words
    val docs = Seq(
      (1L, s"alpha beta gamma delta $boiler"),
      (2L, s"epsilon zeta eta theta $boiler"),
      (3L, "iota kappa lambda mu nu xi omicron pi rho")).toDF("doc_id", "text")
    val got = TextAnalysis.repeatedPhrases(docs, "doc_id", "text",
      n = 8, minDocs = 2, k = 10)
      .select("gram", "n_docs").as[(String, Long)].collect()
    assert(got.toSeq === Seq((boiler, 2L)))
  }

  test("word_grams kernel equals the declarative HOF form on real testdata") {
    import graft.functions.TextHashFunctions
    val wsRun = "[\\t\\n\\x0B\\f\\r ]+"
    val n = 8
    val docs = Engine.table(spark, sfDir, "documents").limit(100)
      .select(col("doc_id"), col("text"))
      .union(Seq(
        (100000L, ""), (100001L, "   "), (100002L, "only three words"),
        (100003L, "  LeAdInG and\ttrailing   whitespace mixed CASE words here ok  "),
        (100004L, "a b c d e f g h"),
        (100005L, "aé世 b c d e f g h i")).toDF("doc_id", "text"))
    val kernel = docs.select(col("doc_id"),
      explode(TextHashFunctions.wordGrams(col("text"), n)).as("gram"))
    val hof = docs
      .select(col("doc_id"),
        filter(split(lower(col("text")), wsRun), x => x =!= "").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("w")) - (n - 1)),
          i => array_join(slice(col("w"), i, lit(n)), " "))).as("gram"))
    val a = kernel.groupBy("doc_id", "gram").count().as[(Long, String, Long)]
      .collect().sorted.toSeq
    val b = hof.groupBy("doc_id", "gram").count().as[(Long, String, Long)]
      .collect().sorted.toSeq
    assert(a.nonEmpty && a === b)
  }

  test("profile computes every column in one pass over real testdata") {
    val docs = Engine.table(spark, sfDir, "documents")
    val prof = TextAnalysis.profile(docs, "text")
    val row = prof.filter(col("doc_id") === 0).collect().head
    assert(row.getAs[Long]("n_chars_total") >= 0)
    assert(prof.columns.toSet.intersect(Set(
      "alpha_ratio", "digit_ratio", "punct_ratio", "space_ratio",
      "n_tokens", "n_subwords", "quality", "lang_pred", "fingerprint")).size === 9)
    // ratios sum to ≤ 1 + punct overlap slack; each in [0,1]
    Seq("alpha_ratio", "digit_ratio", "punct_ratio", "space_ratio").foreach { c =>
      val v = row.getAs[Double](c)
      assert(v >= 0.0 && v <= 1.0, s"$c = $v")
    }
  }

  test("decontaminate flags exactly the docs sharing a word n-gram with the bench set") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val train = Seq(
      // shares two 8-gram windows ("the quick … the lazy", "quick … dog")
      (1L, "she saw the quick brown fox jumps over the lazy dog again"),
      // shares words but never 8 consecutive ones
      (2L, "the quick brown fox sat still and the lazy dog jumps over nothing"),
      // shorter than 8 words — no grams at all
      (3L, "quick brown fox"),
      // two distinct overlapping grams (9-word overlap → 2 windows)
      (4L, "x quick brown fox jumps over the lazy dog tonight y"),
      // the same overlapping gram TWICE — distinct-gram count stays 1
      (5L, "quick brown fox jumps over the lazy dog and then quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.decontaminate(train, bench, "doc_id", "text", n = 8)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got === Seq((1L, 2L), (4L, 2L), (5L, 1L)))
    // hashed production form agrees (xxhash64 collision-free here)
    val hashed = TextAnalysis.decontaminate(train, bench, "doc_id", "text",
      n = 8, hashGrams = true).as[(Long, Long)].collect().sorted.toSeq
    assert(hashed === got)
    // the id column name is an API parameter, not a convention: a
    // renamed input must resolve (the old double-select re-resolved
    // idCol after renaming it and threw for any idCol != "doc_id")
    val renamed = TextAnalysis.decontaminate(
      train.withColumnRenamed("doc_id", "id"), bench, "id", "text", n = 8)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(renamed === got)
  }

  test("decontaminate corpus side joins broadcast with no pre-join exchange") {
    val docs = Engine.table(spark, sfDir, "documents")
    val df = TextAnalysis.decontaminate(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 8, hashGrams = true)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"bench grams must broadcast:\n$plan")
    // the corpus (streamed) side must reach the join exchange-free: its
    // per-doc gram dedup is array_distinct inside the row, so the only
    // shuffles in the whole plan are the bench-side distinct and the
    // final per-doc count
    val nShuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nShuffles <= 2, s"corpus side picked up a dedup shuffle:\n$plan")
  }

  test("repetitionSignals: hand-built docs hit every edge") {
    val docs = Seq(
      (1L, "a b a b a"),              // words 5/2; 3-grams: aba bab aba → 3/2, top 2
      (2L, "x y z"),                  // exactly one gram
      (3L, "q w"),                    // too short: 0 grams
      (4L, ""),                       // empty: 0 words
      (5L, "T t T"))                  // kernel lowercases: 3 words 1 distinct
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(docs, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, 5L, 2L, 3L, 2L, 2L),
      (2L, 3L, 3L, 1L, 1L, 1L),
      (3L, 2L, 2L, 0L, 0L, 0L),
      (4L, 0L, 0L, 0L, 0L, 0L),
      (5L, 3L, 1L, 1L, 1L, 1L)))
  }

  test("repetitionSignals agrees with the explode+groupBy recomputation and never shuffles") {
    val docs = Engine.table(spark, sfDir, "documents")
    val df = TextAnalysis.repetitionSignals(docs, "doc_id", "text", n = 3)
    // independent recomputation of the hardest column (top_gram_count)
    // through the shuffle-based plan the operator avoids
    val naive = docs.select(col("doc_id"),
        explode(graft.functions.TextHashFunctions.wordGrams(col("text"), 3)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id")).agg(max(col("cnt")).as("top_naive"))
    val joined = df.join(naive, Seq("doc_id"), "left")
      .select(col("doc_id"), col("top_gram_count"),
        coalesce(col("top_naive"), lit(0L)).as("top_naive"))
    assert(joined.filter(col("top_gram_count") =!= col("top_naive")).isEmpty)
    // dup-count sanity: distinct ≤ total, and grams = max(0, words-2)
    assert(df.filter(col("n_distinct_words") > col("n_words") ||
      col("n_distinct_grams") > col("n_grams") ||
      col("n_grams") =!= greatest(col("n_words") - 2, lit(0L))).isEmpty)
    // the operator itself is one map pass: no exchange in its plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"repetitionSignals shuffled:\n$plan")
  }

  test("lmScore kernel agrees with the naive explode+join recomputation (the oracle plan)") {
    val docs = Engine.table(spark, sfDir, "documents")
    val got = TextAnalysis.lmScore(docs, "doc_id", "text")
    // independent replay through the shuffle-based plan the kernel avoids
    val norm = graft.functions.BigramLm.normalize(col("text")).as("t")
    val g = docs.select(col("doc_id"), norm)
      .filter(length(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))")).as("bg"))
    val w = g.groupBy(col("bg"))
      .agg((length(bin(count(lit(1)) + 1)) - 1).cast("long").as("w"))
    val naive = docs.select(col("doc_id"))
      .join(g.join(w, Seq("bg"))
          .groupBy(col("doc_id"))
          .agg(expr("sum(w) div count(*)").as("naive_score")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("naive_score"), lit(0L)).as("naive_score"))
    val diff = got.join(naive, Seq("doc_id"))
      .filter(col("lm_score") =!= col("naive_score"))
    assert(diff.isEmpty, diff.collect().take(5).mkString(","))
    // scoring is one kernel pass: ordinary prose outscores punctuation soup
    val scores = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scores.values.exists(_ > 0))
  }

  test("lmScore: degenerate docs score 0 and garbage scores below prose") {
    import spark.implicits._
    // the model is CORPUS-trained, so "familiar" means familiar to the
    // training mix — a prose-dominated corpus makes prose high-weight
    // all-letter prose (digits would normalize to '#' and feed the
    // symbol-soup bigram's own weight), long enough that the common
    // english bigrams train well clear of the garbage ones
    val sentence = "the cat sat on the mat and the dog sat on the log " +
      "while the bird flew over the tree and the fish swam in the sea"
    val prose = (1L to 20L).map(i => (i, sentence))
    val docs = (prose ++ Seq(
      (96L, "@@@ ###$$$ %%%^^^ &&&***"),
      (97L, "qzxj vkwq jxqz wvkq zzxx qqvv"),
      (98L, "x"),
      (99L, ""))).toDF("doc_id", "text")
    val s = TextAnalysis.lmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s(98L) == 0L && s(99L) == 0L)
    // symbol soup AND rare-letter gibberish both fall below every prose doc
    val minProse = prose.map(p => s(p._1)).min
    assert(s(96L) < minProse && s(97L) < minProse,
      s"prose must outscore garbage: garbage=${s(96L)},${s(97L)} minProse=$minProse")
  }

  test("lmScore fixed-point scale refines the integer average consistently") {
    val docs = (1L to 10L).map(i =>
      (i, s"some plain words number ${i * 37} and more text here")).toDF("doc_id", "text")
    val coarse = TextAnalysis.lmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val milli = TextAnalysis.lmScore(docs, "doc_id", "text", scale = 1000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    coarse.foreach { case (id, s) =>
      assert(milli(id) >= s * 1000 && milli(id) < (s + 1) * 1000,
        s"doc $id: coarse=$s milli=${milli(id)}")
    }
  }

  test("segmentDedup drops cross-doc segments at the threshold, keeps order") {
    // segment width 2, maxDocs 2: "a b" appears in docs 1,2,3 → dropped;
    // "c d" in docs 1,2 only → kept; ragged tails kept
    val docs = Seq(
      (1L, "a b c d x"),   // segs: "a b", "c d", "x"
      (2L, "c d a b"),     // segs: "c d", "a b"
      (3L, "a b q r"),     // segs: "a b", "q r"
      (4L, "solo words here")).toDF("doc_id", "text")
    val got = TextAnalysis.segmentDedup(docs, "doc_id", "text", w = 2, maxDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) === ((3L, 2L, "c d x")))
    assert(got(2L) === ((2L, 1L, "c d")))
    assert(got(3L) === ((2L, 1L, "q r")))
    assert(got(4L) === ((2L, 2L, "solo words here")))
  }

  test("segmentDedup: fully-boilerplate doc reassembles to empty string") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.segmentDedup(docs, "doc_id", "text", w = 2, maxDocs = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.forall(_ === ((1L, 0L, ""))))
  }

  test("segmentDedupHashed broadcasts the dropped set and shuffles hashes, not text") {
    val docs = (1L to 30L).map(i => (i, s"w$i x$i y$i z$i q$i")).toDF("doc_id", "text")
    val plan = TextAnalysis.segmentDedupHashed(docs, "doc_id", "text", w = 2, maxDocs = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), s"dropped set must broadcast:\n$plan")
    assert(plan.contains("hashpartitioning(h#") || plan.contains("hashpartitioning(h,"),
      s"frequency exchange must key on the 8-byte hash:\n$plan")
  }

  test("segmentDedupHashed agrees with the exact form") {
    val docs = (1L to 40L).map(i =>
      (i, if (i % 4 == 0) "dup seg dup seg tail " + i
          else s"uniq $i words ${i * 7} more ${i * 13} text")).toDF("doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val exact = norm(TextAnalysis.segmentDedup(docs, "doc_id", "text", w = 3, maxDocs = 3))
    val hashed = norm(TextAnalysis.segmentDedupHashed(docs, "doc_id", "text", w = 3, maxDocs = 3))
    assert(exact === hashed)
    assert(exact.exists(r => r._3 < r._2), "some segment must actually be dropped")
  }

  test("text_clean_segments drops cross-doc spans and reassembles in order") {
    import spark.implicits._
    // docs 1 and 2 share their first 10-word segment (df = 2 → dropped);
    // each keeps a unique tail segment; doc 3 is untouched
    val shared = (1 to 10).map(i => s"w$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-clean").toString
    try {
      Seq((1L, s"$shared u1 u2"), (2L, s"$shared v1"), (3L, "x y z"))
        .toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("src0").as("source"), length(col("text")).cast("long").as("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def run(fn: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame) =
        fn(spark, dir)
          .select(col("doc_id"), col("n_segs"), col("n_kept"), col("clean_md5"))
          .as[(Long, Long, Long, String)].collect()
          .map { case (a, b, c, d) => a -> ((b, c, d)) }.toMap
      val got = run(SparkEntry.checked("text_clean_segments"))
      def m(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
      assert(got(1L) === ((2L, 1L, m("u1 u2"))))
      assert(got(2L) === ((2L, 1L, m("v1"))))
      assert(got(3L) === ((1L, 1L, m("x y z"))))
      // the checked form raised unless the hashed run body equals the
      // segment-text reference; the run body alone gives the same rows
      assert(run(SparkEntry.queries("text_clean_segments")) === got)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
