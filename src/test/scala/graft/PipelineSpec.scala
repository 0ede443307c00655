package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}
import graft.queries.Pipeline

class TextFunctionsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("tokens + shingles") {
    val df = Seq("The quick  brown fox", "", "one").toDF("text")
    val got = df.select(
      TextFunctions.tokens(col("text")).as("t"),
      TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 2).as("s"))
      .collect()
    assert(got(0).getSeq[String](0) == Seq("the", "quick", "brown", "fox"))
    assert(got(0).getSeq[String](1) == Seq("the quick", "quick brown", "brown fox"))
    assert(got(1).getSeq[String](0).isEmpty && got(1).getSeq[String](1).isEmpty)
    assert(got(2).getSeq[String](1).isEmpty) // fewer tokens than n
  }

  test("minhash signature is deterministic and similarity-sensitive") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i k"), // near-dup of 1
      (3L, "z y x w v u t s r q") // unrelated
    ).toDF("doc_id", "text")
    val sig = docs.select(col("doc_id"),
      TextFunctions.minhashSignature(
        array_distinct(TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 2)), 64).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // deterministic across evaluations
    val sig2 = docs.select(TextFunctions.minhashSignature(
      array_distinct(TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 2)), 64))
      .collect()(0).getSeq[Long](0)
    assert(sig(1L) == sig2)
    def agree(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y }
    assert(agree(sig(1L), sig(2L)) > agree(sig(1L), sig(3L)))
  }

  test("simhash: near-dups have small hamming distance") {
    val docs = Seq(
      (1L, "spark catalyst optimizer rewrites logical plans into physical plans"),
      (2L, "spark catalyst optimizer rewrites logical plans into physical stages"),
      (3L, "completely different words about cooking pasta with tomato sauce")
    ).toDF("doc_id", "text")
    val sigs = docs.select(col("doc_id"),
      TextFunctions.simhash64(TextFunctions.tokens(col("text"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)))
  }

  test("graft_text_stats matches the composable TextFunctions forms") {
    // real corpus plus adversarial edges: empty, whitespace-only, heavy
    // punctuation, unicode, repeated tokens
    val edges = Seq("", "   \t\n ", "!!! ??? ...", "the the the the",
      "der hund und die katze", "的 是 了", "a b  c\td\ne", "x" * 500)
      .toDF("text").select(lit(-1L).as("doc_id"), col("text"))
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).unionByName(edges)
    val st = call_function("graft_text_stats", col("text"))
    val mismatches = docs.select(
        col("doc_id"),
        st.getField("n_tokens").as("f_ntok"),
        st.getField("n_unique").as("f_nuniq"),
        st.getField("n_chars").as("f_nchars"),
        st.getField("mean_tok_len").as("f_mean"),
        st.getField("stop_ratio").as("f_stop"),
        st.getField("punct_ratio").as("f_punct"),
        st.getField("quality").as("f_quality"),
        st.getField("lang").as("f_lang"),
        TextFunctions.tokenCount(col("text")).as("c_ntok"),
        TextFunctions.uniqueTokenCount(col("text")).as("c_nuniq"),
        TextFunctions.charCount(col("text")).as("c_nchars"),
        TextFunctions.meanTokenLen(col("text")).as("c_mean"),
        TextFunctions.stopwordRatio(col("text")).as("c_stop"),
        TextFunctions.punctRatio(col("text")).as("c_punct"),
        TextFunctions.qualityScore(col("text")).as("c_quality"),
        TextFunctions.langId(col("text")).as("c_lang"))
      .filter(
        col("f_ntok") =!= col("c_ntok") || col("f_nuniq") =!= col("c_nuniq") ||
          col("f_nchars") =!= col("c_nchars") || col("f_mean") =!= col("c_mean") ||
          col("f_stop") =!= col("c_stop") || col("f_punct") =!= col("c_punct") ||
          col("f_quality") =!= col("c_quality") || col("f_lang") =!= col("c_lang"))
      .collect()
    assert(mismatches.isEmpty,
      s"fused/composable divergence:\n${mismatches.take(5).mkString("\n")}")
  }

  test("graft_shingle_hashes matches the composable hashedShingleSet") {
    val docs = Tables.load(spark, sf, "documents").select(col("text"))
      .unionByName(Seq("", "one", "a b", "a b c d").toDF("text"))
    Seq(1, 3).foreach { n =>
      val bad = docs.select(
          sort_array(TextFunctions.hashedShingleSet(col("text"), n)).as("c"),
          call_function("graft_shingle_hashes", col("text"), lit(n)).as("f"))
        .filter(col("c") =!= col("f"))
        .count()
      assert(bad == 0, s"shingle hash divergence at n=$n")
    }
  }

  test("graft_norm_text matches the composable docFingerprint path") {
    val docs = Tables.load(spark, sf, "documents").select(col("text"))
      .unionByName(Seq("", "  a  B ", "Mixed CASE\ttabs").toDF("text"))
    val bad = docs.select(
        TextFunctions.docFingerprint(col("text")).as("c"),
        md5(call_function("graft_norm_text", col("text"))).as("f"))
      .filter(col("c") =!= col("f"))
      .count()
    assert(bad == 0, "norm_text fingerprint divergence")
  }

  test("graft_simhash matches the composable simhash64") {
    val docs = Tables.load(spark, sf, "documents").select(col("text"))
      .unionByName(Seq("", "one token", "the quick brown fox").toDF("text"))
    val bad = docs.select(
        TextFunctions.simhash64(TextFunctions.tokens(col("text"))).as("c"),
        call_function("graft_simhash", col("text")).as("f"))
      .filter(col("c") =!= col("f"))
      .count()
    assert(bad == 0, "simhash divergence")
  }

  test("langId picks marker language, und on no markers") {
    val df = Seq("the cat of the house is big", "der hund und die katze ist",
      "xyz qrs", "le chat et la maison est").toDF("text")
    val got = df.select(TextFunctions.langId(col("text"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("en", "de", "und", "fr"))
  }
}

class DedupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // synthetic corpus with planted near-duplicates
  private lazy val docs = {
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the green hills and birds sing in the tall trees near the old stone bridge"
    val nearDup = base.replace("old stone bridge", "old wooden bridge")
    val exactDup = base
    val other = "completely unrelated text about databases indexes transactions and query optimizers running on distributed clusters with fault tolerance"
    Seq((0L, base, "en"), (1L, nearDup, "en"), (2L, exactDup, "en"), (3L, other, "en"))
      .toDF("doc_id", "text", "lang")
  }

  test("span-window fidelity: a duplicated run >= n is exactly its n-window union") {
    // The formal containment property relating the fixed n-token-window
    // family (d20/d21/d22) to Lee et al. ACL'22's character-level
    // maximal-substring rule: ANY duplicated token run of length
    // L >= n is exactly the union of its L-n+1 n-windows — every one
    // of those windows is itself duplicated, so the WHOLE run excises
    // (no partial survival), and conversely a position excises only
    // inside some duplicated n-window. Pinned as a randomized
    // differential: 40 seeded corpora, the operator's removed-position
    // set must EQUAL the independent Scala replay (union of windows of
    // n-grams with distinct-doc df > 1), and every planted shared run
    // must excise in full from every carrier.
    val n = 8
    val rnd = new scala.util.Random(1513)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    (1 to 40).foreach { trial =>
      val run = Vector.fill(n + rnd.nextInt(6))(
        "run" + rnd.nextInt(3) + "x" + rnd.nextInt(4))
      def doc(): Vector[String] = {
        val pre = Vector.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
        val post = Vector.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
        if (rnd.nextBoolean()) pre ++ run ++ post else pre ++ post
      }
      val toks: Map[Long, Vector[String]] =
        (0L until 8L).map(i => i -> doc()).toMap
      val corpus = toks.toSeq.map { case (id, t) => (id, t.mkString(" ")) }
        .toDF("doc_id", "text")
      // independent replay: df over distinct docs per n-gram, cover =
      // union of duplicated windows
      val grams = toks.toSeq.flatMap { case (id, t) =>
        t.sliding(n).zipWithIndex.filter(_._1.size == n)
          .map { case (g, i) => (g.mkString(" "), id, i) }
      }
      val dup = grams.groupBy(_._1).filter(_._2.map(_._2).distinct.size > 1)
        .keySet
      val expectCover: Map[Long, Set[Int]] = grams
        .filter(g => dup(g._1))
        .flatMap { case (_, id, i) => (i until i + n).map(id -> _) }
        .groupBy(_._1).map { case (id, ps) => id -> ps.map(_._2).toSet }
      val got = Dedup.spanExcise(corpus, n = n).collect()
        .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
      toks.foreach { case (id, t) =>
        val cover = expectCover.getOrElse(id, Set.empty)
        val kept = t.zipWithIndex.collect {
          case (w, i) if !cover(i) => w
        }.mkString(" ")
        assert(got(id) == ((cover.size.toLong, kept)),
          s"trial $trial doc $id: operator must equal the window-union " +
            s"replay (cover $cover, toks $t)")
        // the containment lemma made concrete: every planted shared
        // run excises IN FULL from every doc that carries it (when at
        // least two docs do)
        val carriers = toks.filter(_._2.containsSlice(run)).keySet
        if (carriers.size > 1 && carriers(id)) {
          val start = t.indexOfSlice(run)
          assert((start until start + run.size).forall(cover),
            s"trial $trial doc $id: the shared run must excise in full")
        }
      }
      Dedup.unpersistAll()
    }
  }

  test("span excision removes cross-doc boilerplate, keeps unique content") {
    // two docs share an 8-token boilerplate header; each has a unique
    // tail; a third doc is fully unique. The shared header (and ONLY
    // it) must excise from BOTH carriers; the unique doc passes through
    // untouched (empty cover via the left join).
    val header = "all rights reserved contact the site admin team"
    val corpus = Seq(
      (0L, s"$header alpha beta gamma"),
      (1L, s"$header delta epsilon"),
      (2L, "nothing here repeats anywhere across the corpus at all"))
      .toDF("doc_id", "text")
    val got = Dedup.spanExcise(corpus, n = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(0L) == ((11L, 8L, "alpha beta gamma")))
    assert(got(1L) == ((10L, 8L, "delta epsilon")))
    assert(got(2L) == ((9L, 0L, "nothing here repeats anywhere across the corpus at all")))
    // overlapping covers union, they don't double-count: two docs
    // sharing a 9-token run have every 8-gram of it duplicated — the
    // cover is the 9 positions, removed once
    val over = Seq(
      (0L, "a b c d e f g h i tail one"),
      (1L, "a b c d e f g h i tail two"))
      .toDF("doc_id", "text")
    val g2 = Dedup.spanExcise(over, n = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // shared 8-grams start at positions 1, 2 AND 3 ([3..10] =
    // "c d e f g h i tail" appears in both docs — "tail" itself is
    // inside a duplicated span even though the docs diverge right after
    // it), so the cover is the UNION 1..10 and only the last token
    // survives — exactly the overlap semantics Lee et al.'s span cover
    // defines
    assert(g2(0L) == ((11L, 10L, "one")))
    assert(g2(1L) == ((11L, 10L, "two")))
  }

  test("keep-one span dedup: canonical occurrence survives, repeats excise") {
    val header = "all rights reserved contact the site admin team"
    val run = "r1 r2 r3 r4 r5 r6 r7 r8"
    val corpus = Seq(
      (0L, s"$header alpha beta gamma"),  // canonical header owner
      (1L, s"$header delta epsilon"),     // loses its header copy
      (2L, s"$run mid $run"))             // WITHIN-doc repeat
      .toDF("doc_id", "text")
    val keep1 = Dedup.spanExciseKeepOne(corpus, n = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 0 holds the (doc_id, pos)-minimum occurrence — it KEEPS the
    // header (the Lee et al. all-but-one rule); doc 1's copy excises
    assert(keep1(0L) == ((11L, 0L, s"$header alpha beta gamma")))
    assert(keep1(1L) == ((10L, 8L, "delta epsilon")))
    // the within-doc repeat keeps its first occurrence only — d10's
    // distinct-doc qualification can't even see this duplication
    assert(keep1(2L) == ((17L, 8L, s"$run mid")))
    // contrast with the remove-every-copy template variant: d20 leaves
    // the within-doc repeat intact (one distinct doc) and strips the
    // header from BOTH carriers
    val all = Dedup.spanExcise(corpus, n = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(all(0L)._2 == 8L && all(1L)._2 == 8L)
    assert(all(2L) == ((17L, 0L, s"$run mid $run")))
  }

  test("curriculum schedule: exact per-epoch budget, endpoints pin to s8/proportional") {
    val dir = TestSpark.sf
    val rows = graft.queries.Pipeline.queries("s14_curriculum_schedule")(
        spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSeq
    assert(rows.nonEmpty)
    // every epoch apportions the budget EXACTLY
    rows.groupBy(_._1).foreach { case (e, rs) =>
      assert(rs.map(_._3).sum == 100000L, s"epoch $e must sum to the budget")
    }
    // epoch 0 is bit-identical to s8's temperature allocation
    val s8 = graft.queries.Pipeline.queries("s8_temperature_mix")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    rows.filter(_._1 == 0L).foreach { case (_, src, q) =>
      assert(q == s8(src), s"epoch 0 must equal s8 for $src")
    }
    // epoch 3 is the proportional Hamilton apportionment (driver replay)
    val sources: Seq[String] = rows.map(_._2).distinct.sorted
    val nBySrc = graft.Tables.load(spark, dir, "documents")
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wtot: Long = nBySrc.values.sum
    val base: Map[String, Long] =
      sources.map(s => s -> (100000L * nBySrc(s)) / wtot).toMap
    val rem: Seq[(String, Long)] =
      sources.map(s => s -> (100000L * nBySrc(s)) % wtot)
    val leftover = (100000L - base.values.sum).toInt
    val seats: Set[String] = rem.sortBy { case (s, r) => (-r, s) }
      .take(leftover).map(_._1).toSet
    rows.filter(_._1 == 3L).foreach { case (_, src, q) =>
      val want = base(src) + (if (seats(src)) 1L else 0L)
      assert(q == want, s"epoch 3 must be proportional for $src")
    }
    // interior epochs sit within 1 seat of the linear interpolation
    val q0 = rows.filter(_._1 == 0L).map(t => t._2 -> t._3).toMap
    val q3 = rows.filter(_._1 == 3L).map(t => t._2 -> t._3).toMap
    rows.foreach { case (e, src, q) =>
      val interp = ((3 - e) * q0(src) + e * q3(src)).toDouble / 3.0
      assert(math.abs(q - interp) <= 1.0,
        s"epoch $e quota for $src strays from the interpolation")
    }
  }

  test("char-granular excision sees what token windows cannot") {
    // a 40-char duplicated region that STRADDLES token boundaries with
    // different surrounding tokens in each doc — and, in doc 2, lives
    // INSIDE one long unbroken token (a URL-ish string): invisible to
    // the 8-token window, exact at char level
    val dup = "0123456789abcdefghijklmnopqrstuvwxyz-end" // 40 chars
    val corpus = Seq(
      (0L, s"prefix $dup suffix one"),
      (1L, s"other lead-in $dup trailing words"),
      (2L, s"solo http://x.example/$dup?q=1 tail"),
      (3L, "entirely unrelated short text"))
      .toDF("doc_id", "text")
    val got = Dedup.spanExciseChars(corpus, n = 40)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // every copy excises (distinct-doc qualification), and the cover is
    // the MAXIMAL shared substring, not just the planted region: docs 0
    // and 1 both surround the dup with spaces, so " dup " (42 chars)
    // repeats across them and windows reaching into the shared spaces
    // qualify too — the union-of-windows = maximal-duplicated-run
    // property, live at char granularity. Doc 2's URL context differs
    // on both sides, so exactly the 40 dup chars go there.
    assert(got(0L) == ((58L, 42L, "prefixsuffix one")))
    assert(got(1L) == ((69L, 42L, "other lead-intrailing words")))
    assert(got(2L) == ((71L, 40L, "solo http://x.example/?q=1 tail")))
    assert(got(3L) == ((29L, 0L, "entirely unrelated short text")))
    // the token-window operator misses ALL of it: no 8-token span
    // repeats across these docs
    val tokenView = Dedup.spanExcise(corpus, n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(tokenView.values.forall(_ == 0L),
      "the straddling duplication must be invisible at token level")
    Dedup.unpersistAll()
  }

  test("char excision: non-BMP chars count once and never split in the rebuild") {
    // the emoji is ONE code point: n_chars counts it once, and a cover
    // ending next to it must excise whole code points, never leave a
    // lone surrogate in clean_text (the u7 discipline at char level)
    val dup = "0123456789abcdefghijklmnopqrstuvwxyz-end" // 40 chars
    val corpus = Seq(
      (0L, s"😀 $dup tail"),
      (1L, s"lead $dup 😀"))
      .toDF("doc_id", "text")
    val got = Dedup.spanExciseChars(corpus, n = 40)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 0: emoji(1) + space + 40 + " tail"(5) = 47 code points
    assert(got(0L)._1 == 47L, got(0L).toString)
    // the shared " dup " run (42 incl. flanking spaces) excises; the
    // emoji survives INTACT on both sides
    assert(got(0L)._3 == "😀tail", got(0L).toString)
    assert(got(1L)._3 == "lead😀", got(1L).toString)
    got.values.foreach { case (_, _, clean) =>
      clean.toCharArray.zipWithIndex.foreach { case (c, i) =>
        if (Character.isHighSurrogate(c))
          assert(i + 1 < clean.length &&
            Character.isLowSurrogate(clean.charAt(i + 1)),
            s"lone surrogate in '$clean'")
      }
    }
    Dedup.unpersistAll()
  }

  test("char excision: within-doc repeat alone does not qualify; short docs pass") {
    val run = "zyxwvutsrqponmlkjihgfedcba9876543210-x40" // 40 chars
    val corpus = Seq(
      (0L, s"$run middle $run"),          // repeat, but ONE distinct doc
      (1L, "short"))                      // under n chars entirely
      .toDF("doc_id", "text")
    val got = Dedup.spanExciseChars(corpus, n = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(0L) == 0L, "distinct-doc rule: within-doc repeats survive")
    assert(got(1L) == 0L, "short docs pass through untouched")
    Dedup.unpersistAll()
  }

  test("curriculum manifests: prefix-stable across epochs, quota-bounded") {
    val rows = graft.queries.Pipeline.queries("s15_curriculum_manifests")(
        spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(rows.nonEmpty)
    // ranks dense 1..size per (epoch, source) — a loader can stream them
    rows.groupBy(t => (t._1, t._2)).foreach { case (key, rs) =>
      assert(rs.map(_._3).sorted == (1L to rs.length.toLong), key.toString)
    }
    // PREFIX STABILITY: the doc at rank r is the SAME doc in every
    // epoch that reaches rank r — one shared md5 order per source
    rows.groupBy(t => (t._2, t._3)).foreach { case (key, rs) =>
      assert(rs.map(_._4).distinct.length == 1,
        s"rank slot $key must hold one document across epochs")
    }
    // per-epoch total ≤ B (= when no source exhausts its docs)
    rows.groupBy(_._1).foreach { case (e, rs) =>
      assert(rs.length <= 1000, s"epoch $e exceeds the budget")
    }
  }

  test("mixture manifest: dense per-source ranks, unique picks, budget bound") {
    // s13's selection is a TOTAL order (md5, then doc_id) through
    // TopKPerKey, so determinism is structural (and the DuckDB oracle
    // pins it end to end); this spec pins the manifest INVARIANTS a
    // training loader depends on
    val s13 = graft.queries.Pipeline.queries("s13_mixture_manifest")
    val dir = TestSpark.sf
    val rows = s13(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_._1)
    // ranks are 1..alloc_i dense per source
    bySource.foreach { case (src, rs) =>
      assert(rs.map(_._2).sorted == (1L to rs.length.toLong),
        s"ranks must be dense 1..alloc for $src")
    }
    assert(rows.map(_._3).distinct.length == rows.length,
      "a document must appear at most once in the manifest")
    // the alloc seats sum to the budget when no source is exhausted,
    // and never exceed it otherwise
    assert(rows.length <= 1000)
  }

  test("exact dedup groups identical text only") {
    val rep = Dedup.exact(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep(0L) == 0L && rep(2L) == 0L) // exact pair
    assert(rep(1L) == 1L && rep(3L) == 3L) // near-dup NOT merged by exact
  }

  test("sorted-neighborhood finds template-family pairs; window bounds candidates") {
    // template family: same 4-token opening, small body edits — sorts
    // adjacent inside the (lang, first-token) block
    val corpus = Seq(
      (20L, "report for march sales were strong in the north region", "en"),
      (21L, "report for march sales were strong in the south region", "en"),
      (22L, "report for march sales were weak in the south region", "en"),
      // same first token but a different 4-token prefix AND body — sorts
      // apart and fails the jaccard bar
      (23L, "report about unrelated engineering topics entirely different words here", "en"),
      // different first token — different block, never a candidate
      (24L, "summary for march sales were strong in the north region", "en"))
      .toDF("doc_id", "text", "lang")
    val pairs = Dedup.sortedNeighborhoodPairs(corpus, window = 3,
      minJaccPpm = 500000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((20L, 21L)) && pairs.contains((21L, 22L)),
      s"template family must pair up: $pairs")
    assert(!pairs.exists(p => p._1 == 24L || p._2 == 24L),
      s"cross-block docs are never candidates: $pairs")
    assert(!pairs.exists(p => p._1 == 23L || p._2 == 23L),
      s"dissimilar same-block doc must fail the jaccard bar: $pairs")
    // candidate bound: each doc compares with at most window-1 successors
    val cand = Dedup.sortedNeighborhoodPairs(corpus, window = 3,
      minJaccPpm = 0L)
      .collect().map(r => r.getLong(0))
    assert(cand.groupBy(identity).values.forall(_.length <= 2),
      "at most window-1 candidates per left doc")
  }

  test("winnowing pairs find a shared run; the df cap drops boilerplate") {
    // docs 30/31 share a 12-token run (≥ w+k−1 = 6 ⇒ a shared
    // fingerprint is STRUCTURAL); 32 is unrelated
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val corpus = Seq(
      (30L, "unique opening words here " + run),
      (31L, run + " and then a different continuation of text"),
      (32L, "totally unrelated content about deep sea creatures and " +
        "their bioluminescent displays in the midnight zone of oceans"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(corpus, maxDf = 20, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((30L, 31L)), s"shared run must pair: $pairs")
    assert(!pairs.exists(p => p._1 == 32L || p._2 == 32L),
      s"unrelated doc must not pair: $pairs")
    // df cap: a fingerprint present in EVERY doc is boilerplate — with
    // maxDf = 2 a 3-doc-ubiquitous template line stops generating pairs
    val boiler = "standard legal disclaimer applies to all documents here now"
    val many = (0L until 3L).map(i =>
      (40L + i, boiler + s" unique tail number $i with extra words " +
        s"specific to document $i only")).toDF("doc_id", "text")
    val capped = Dedup.winnowPairs(many, maxDf = 2, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.winnowPairs(many, maxDf = 20, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.nonEmpty, "shared boilerplate must pair when uncapped")
    assert(capped.size < uncapped.size || capped.isEmpty,
      s"the df cap must drop ubiquitous fingerprints: $capped vs $uncapped")
    // validation
    intercept[IllegalArgumentException] { Dedup.winnowPairs(corpus, maxDf = 1) }
    intercept[IllegalArgumentException] {
      Dedup.winnowPairs(corpus, minShared = 0L)
    }
  }

  test("containment flags a quote-expansion superset Jaccard misses") {
    val quote = "colorless green ideas sleep furiously every night"
    val page = "editorial context before the famous line " + quote +
      " followed by a long discussion of generative grammar syntax and " +
      "semantics spanning many further unrelated tokens about linguistics"
    val corpus = Seq(
      (10L, quote, "en"), (11L, page, "en"),
      (12L, "entirely different content about sailing ships", "en"))
      .toDF("doc_id", "text", "lang")
    val got = Dedup.containmentPairs(corpus, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(p => (p._1, p._2)).toSet == Set((10L, 11L)),
      s"only (quote ⊂ page): ${got.toSeq}")
    assert(got.head._3 == 1.0, "verbatim subset has containment 1.0")
    // the same pair is INVISIBLE to symmetric Jaccard at any sane
    // threshold — that asymmetry is the operator's reason to exist
    val jac = Dedup.ngramJaccardPairs(corpus, n = 1, threshold = 0.5)
      .collect()
    assert(jac.isEmpty, s"Jaccard at 0.5 must miss the subset pair: ${jac.toSeq}")
  }

  test("containment: canonical direction, no duplicate emissions") {
    // equal-size twin sets: exactly one row, smaller id first
    val corpus = Seq(
      (20L, "alpha beta gamma delta", "en"),
      (21L, "delta gamma beta alpha", "en"))
      .toDF("doc_id", "text", "lang")
    val got = Dedup.containmentPairs(corpus, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((20L, 21L)), s"one canonical row: ${got.toSeq}")
  }

  test("minhash LSH finds planted near-dup, spares unrelated") {
    val rep = Dedup.minhashLsh(docs, shingleLen = 3, numHashes = 32, bands = 8, threshold = 0.7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep(1L) == 0L, "near-dup should map to base")
    assert(rep(2L) == 0L, "exact dup should map to base")
    assert(rep(3L) == 3L, "unrelated doc must survive")
  }

  test("incremental minhash: drop probes the base index at a rational threshold") {
    // base text: 28 tokens → 26 distinct 3-shingles; the near-dup swaps
    // one word, touching exactly 2 shingles → J = 24/28 ≈ 0.857
    val baseText = "the quick brown fox jumps over the lazy dog while rain falls on the green hills and birds sing in the tall trees near the old stone bridge"
    val other = "completely unrelated text about databases indexes transactions and query optimizers running on distributed clusters with fault tolerance"
    val base = Seq((0L, baseText), (3L, other)).toDF("doc_id", "text")
    val probe = Seq(
      (4L, baseText), // exact dup of 0
      (5L, baseText.replace("old stone bridge", "old wooden bridge")),
      (6L, "tiny doc"), // < 3 tokens: empty shingle set, trivially new
      (7L, "fresh document with entirely new words nobody wrote before today"))
      .toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(base)
    def flags(num: Int, den: Int) =
      Dedup.incrementalMinhash(idx, probe, num = num, den = den)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
        .toMap
    val at45 = flags(4, 5) // 24/28 >= 4/5: the near-dup IS a dup
    assert(at45(4L) == ((1L, 0L, false)), s"exact dup: ${at45(4L)}")
    assert(at45(5L) == ((1L, 0L, false)), s"near-dup at 4/5: ${at45(5L)}")
    assert(at45(6L) == ((0L, -1L, true)), s"short probe: ${at45(6L)}")
    assert(at45(7L) == ((0L, -1L, true)), s"fresh probe: ${at45(7L)}")
    val at910 = flags(9, 10) // 24/28 < 9/10: only the exact dup survives
    assert(at910(5L) == ((0L, -1L, true)), s"near-dup at 9/10: ${at910(5L)}")
    assert(at910(4L) == ((1L, 0L, false)))
    // partition invariance: banding, probing, and the rollup are
    // partitioning-independent
    val many = Dedup.incrementalMinhash(
        Dedup.minhashIndex(base.repartition(5)), probe.repartition(7))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(many == at45)
  }

  test("license propagation: the component max governs every member") {
    // chain component {0,1,2} (max rank from doc 1), singleton {5}
    val comp = Seq((0L, 0L), (1L, 0L), (2L, 0L), (5L, 5L))
      .toDF("doc_id", "rep")
    val meta = Seq((0L, 0), (1L, 3), (2L, 1), (5L, 2)).toDF("doc_id", "r")
    val got = Dedup.licensePropagation(comp, meta, col("r"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(2), r.getInt(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(got(0L) == ((0, 3, 3L, true)), s"member upgraded to comp max: $got")
    assert(got(1L) == ((3, 3, 3L, false)), s"the max member is unchanged: $got")
    assert(got(2L) == ((1, 3, 3L, true)), got.toString)
    assert(got(5L) == ((2, 2, 1L, false)), s"singleton keeps its own rank: $got")
  }

  test("cross-split leakage: a component straddling splits flags every member") {
    // component {0,1} straddles train/test → both flagged; {2} and {5}
    // stay clean in their own splits
    val comp = Seq((0L, 0L), (1L, 0L), (2L, 2L), (5L, 5L))
      .toDF("doc_id", "rep")
    val split = Seq((0L, "train"), (1L, "test"), (2L, "train"), (5L, "val"))
      .toDF("doc_id", "split")
    val got = Dedup.crossSplitLeakage(comp, split)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(got(0L) == (("train", 2L, 2L, true)), got.toString)
    assert(got(1L) == (("test", 2L, 2L, true)),
      s"every member of a leaky component is flagged: $got")
    assert(got(2L) == (("train", 1L, 1L, false)), got.toString)
    assert(got(5L) == (("val", 1L, 1L, false)), got.toString)
  }

  test("minhash banding rejects a numHashes not divisible by bands") {
    // numHashes=32, bands=5 would truncate to 6-row bands covering 30 of
    // 32 hashes — silently changed recall, and an index/probe pair built
    // with different truncations would join garbage buckets
    val probe = Seq((0L, "a b c d")).toDF("doc_id", "text")
    for (op <- Seq(
        () => Dedup.minhashLshPairs(probe, numHashes = 32, bands = 5),
        () => Dedup.minhashIndex(probe, numHashes = 32, bands = 5),
        () => Dedup.incrementalMinhash(
          Dedup.minhashIndex(probe), probe, numHashes = 32, bands = 5))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("divisible"), e.getMessage)
    }
  }

  test("simhash finds planted near-dup, spares unrelated") {
    val rep = Dedup.simhash(docs, maxHamming = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep(2L) == 0L)
    assert(rep(3L) == 3L)
  }

  test("ngram jaccard: the exact-boundary J = 4/5 pair is found at t = 0.8") {
    // A = {a,b,c,d}, B = {a,b,c,d,e}: J = 4/5 exactly, and the verify
    // passes (4.0/5.0 and the 0.8 literal round to the SAME double).
    // This pins two prior double-arithmetic hazards at once: the prefix
    // bound (double ceil(0.8·5) = 5 shortened B's prefix to 1 — its only
    // token was the unique 'e', so the pair had no shared prefix token)
    // and the size-ratio prefilter (double 0.8·5 = 4.000000000000000222
    // rejected least = 4). Both now run in exact decimal; the quadratic
    // oracle emits this pair, so missing it is a gate failure.
    val corpus = Seq(
      (30L, "a b c d", "en"),
      (31L, "a b c d e", "en"))
      .toDF("doc_id", "text", "lang")
    val rep = Dedup.ngramJaccard(corpus, n = 1, threshold = 0.8,
        blockCols = Seq(col("lang")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == Map(30L -> 30L, 31L -> 30L), rep.toString)
  }

  test("ngram jaccard merges near-dup at loose threshold") {
    val rep = Dedup.ngramJaccard(docs, n = 2, threshold = 0.8, blockCols = Seq(col("lang")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep(1L) == 0L && rep(2L) == 0L && rep(3L) == 3L)
  }

  test("band-bucket skew cap bounds degenerate buckets, keeps normal recall") {
    // adversarial corpus: a 60-doc clique of identical text (every band is
    // one mega bucket) plus the planted near-dup pair. With a tight cap
    // the clique's buckets are dropped — the quadratic stage is bounded —
    // while the near-dup pair (tiny buckets) is still found. The clique
    // itself is exact-duplicate text, i.e. d1's job, not LSH's.
    val cliqueText = "all work and no play makes jack a dull boy again and again forever"
    val clique = (100L until 160L).map(i => (i, cliqueText, "en"))
    val adversarial = docs.union(clique.toDF("doc_id", "text", "lang"))
    val rep = Dedup.minhashLsh(adversarial, shingleLen = 3, numHashes = 32,
      bands = 8, threshold = 0.7, maxBandBucket = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep(1L) == 0L && rep(2L) == 0L, "normal near-dups still found under cap")
    assert((100L until 160L).forall(i => rep(i) == i),
      "capped mega-bucket docs fall back to rep=self (exact dedup's job)")
    // without the cap the clique merges (sanity: cap was the difference)
    val uncapped = Dedup.minhashLsh(adversarial, shingleLen = 3, numHashes = 32,
      bands = 8, threshold = 0.7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uncapped(159L) == 100L)
  }

  test("connected components collapses chains transitively within log rounds") {
    // chain A0~A1~...~A9 where consecutive docs are near-dups but the ends
    // share almost nothing: single-hop rep keeps the chain split; the
    // closure must collapse it all onto doc 0
    val words = (0 until 40).map(i => s"w$i")
    val chainDocs = (0 until 10).map { i =>
      // doc i = words[3i .. 3i+12]: consecutive docs overlap 10/13 words
      (i.toLong, words.slice(3 * i, 3 * i + 13).mkString(" "), "en")
    }
    val far = Seq((99L, "zz yy xx ww vv uu tt ss rr qq pp oo nn", "en"))
    val cdocs = (chainDocs ++ far).toDF("doc_id", "text", "lang")
    def toks(c: org.apache.spark.sql.Column) = TextFunctions.tokenSet(c)
    val jac = size(array_intersect(toks(col("l.text")), toks(col("r.text"))))
      .cast("double") /
      size(array_union(toks(col("l.text")), toks(col("r.text")))).cast("double")
    val pairs = cdocs.as("l").join(cdocs.as("r"),
        col("l.doc_id") < col("r.doc_id"))
      .filter(jac >= 0.5)
      .select(col("l.doc_id").as("i"), col("r.doc_id").as("j"))
    // sanity: consecutive pairs exist, ends are not directly paired
    val pset = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0 until 9).forall(i => pset.contains((i.toLong, i.toLong + 1))))
    assert(!pset.contains((0L, 9L)))
    // single-hop leaves the chain split…
    val singleHop = cdocs.select(col("doc_id"))
      .join(pairs, col("doc_id") === col("j"), "left")
      .groupBy(col("doc_id"))
      .agg(coalesce(min(col("i")), first(col("doc_id"))).as("rep"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(singleHop.values.toSet.size > 2, "chain must not be single-hop-collapsible")
    // …the closure collapses it fully
    val cc = Dedup.connectedComponents(cdocs, pairs, maxIters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0 until 10).forall(i => cc(i.toLong) == 0L), s"chain must collapse: $cc")
    assert(cc(99L) == 99L, "isolated doc keeps itself")
  }

  test("connected components equals union-find on random graphs") {
    // seeded random graphs of varying density vs a reference union-find;
    // catches closure bugs (missed merges, wrong minimum) that the planted
    // chain cannot
    val rnd = new scala.util.Random(7)
    (1 to 6).foreach { trial =>
      val n = 20 + rnd.nextInt(60)
      val m = rnd.nextInt(2 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      // reference union-find with path compression
      val parent = Array.tabulate(n.toLong.toInt)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val docsDf = (0L until n.toLong).map(i => Tuple1(i)).toDF("doc_id")
      val pairsDf =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("i", "j")
        else edges.toDF("i", "j")
      val got = Dedup.connectedComponents(docsDf, pairsDf, maxIters = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected,
        s"trial $trial (n=$n, m=${edges.size}): CC disagrees with union-find")
    }
  }

  test("connected components: reliable checkpointing path (spark.graft.checkpointDir)") {
    // same closure, lineage truncated via reliable checkpoint() instead of
    // localCheckpoint — the fault-tolerant setting a real cluster needs
    val docsDf = (0L until 30L).map(Tuple1(_)).toDF("doc_id")
    val pairsDf = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 12L), (12L, 14L),
      (20L, 25L)).toDF("i", "j")
    val expected = Dedup.connectedComponents(docsDf, pairsDf, maxIters = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val got = Dedup.connectedComponents(docsDf, pairsDf, maxIters = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, "reliable-checkpoint closure must match default path")
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(files > 0, s"no reliable checkpoint files were written under $dir")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
    }
  }

  test("p3 chunks partition each document and agree with p2 start windows") {
    val p3 = SparkEntry.queries("p3_sequence_chunks")(spark, sf)
    val p2 = SparkEntry.queries("p2_sequence_packing")(spark, sf)
    val agg = p3.groupBy(col("doc_id")).agg(
      sum(col("chunk_len")).as("tot"),
      min(col("seq_no")).as("first_seq"),
      max(col("seq_no")).as("last_seq"),
      count(lit(1)).as("n_chunks"))
    val joined = p2.join(agg, Seq("doc_id"), "left").collect()
    joined.foreach { r =>
      val ntok = r.getAs[Number]("ntok").longValue
      if (ntok > 0) {
        // chunk lengths partition the document's tokens exactly
        assert(r.getAs[Long]("tot") == ntok, s"doc ${r.get(0)}: chunk lens != ntok")
        // the first chunk's window is the start window p2 reports
        assert(r.getAs[Long]("first_seq") == r.getAs[Long]("seq_no"))
        // windows a doc spans are contiguous: count == last - first + 1
        assert(r.getAs[Long]("n_chunks") ==
          r.getAs[Long]("last_seq") - r.getAs[Long]("first_seq") + 1)
      } else {
        assert(r.isNullAt(r.fieldIndex("tot")), "zero-token docs emit no chunks")
      }
    }
    // no chunk exceeds the context window or is empty
    assert(p3.filter(col("chunk_len") <= 0 || col("chunk_len") > 2048).count() == 0)
  }

  test("embedding LSH dedup agrees with exact pairwise on real data") {
    val embs = Tables.load(spark, sf, "embeddings")
    val lsh = Dedup.embeddingCosine(embs, dim = 64, planes = 12, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact pairwise (no blocking) ground truth
    val v = embs.select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val l = v.alias("l"); val r = v.alias("r")
    val truePairs = l.join(r, col("l.vec_id") < col("r.vec_id"))
      .filter(Similarity.cosine(col("l.v"), col("r.v")) >= 0.95)
      .select(col("l.vec_id"), col("r.vec_id"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    // every truly-duplicated doc the LSH found must be correct (precision 1
    // by construction — exact verify); measure recall here
    val trueDups = truePairs.map(_._2).toSet
    val found = lsh.filter { case (id, rep) => rep < id }.keySet
    assert(found.subsetOf(trueDups), "LSH must not invent pairs")
    if (trueDups.nonEmpty) {
      val recall = found.size.toDouble / trueDups.size
      assert(recall >= 0.5, s"LSH recall too low: $recall (found ${found.size}/${trueDups.size})")
    }
  }

  test("embedding LSH finds every planted exact duplicate") {
    // this corpus has no natural cosine≥0.95 pairs (the d5p gate pins
    // that emptiness as LSH soundness) — so the RECALL direction needs
    // plants: an exact copy has cosine 1.0, identical hyperplane signs,
    // hence the same bucket in EVERY band — detection is structural,
    // not probabilistic
    import spark.implicits._
    val embs = Tables.load(spark, sf, "embeddings")
    val copies = embs.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val planted = embs.select(col("vec_id"), col("embedding"))
      .unionByName(copies)
    val got = Dedup.embeddingCosinePairs(planted,
        dim = 64, planes = 12, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = embs.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(0) + 1000000L)).toSet
    want.foreach { p =>
      assert(got.contains(p), s"planted copy pair $p must be found")
    }
    assert(want.nonEmpty)
  }
}

class DecontaminateSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  import graft.operators.Decontaminate

  private val evalDoc =
    "the capital of france is paris and the capital of spain is madrid today"
  private lazy val evalSet = Seq((1000L, evalDoc)).toDF("doc_id", "text")

  private lazy val corpus = Seq(
    // verbatim 8-gram leak from the eval doc, embedded mid-document
    (1L, "students wrote that the capital of france is paris and the capital was remembered"),
    // shares only shorter runs (< 8 tokens) with the eval doc
    (2L, "the capital of france has many museums and the capital of spain has plazas"),
    // unrelated
    (3L, "distributed query engines shuffle partitioned data across executor nodes")
  ).toDF("doc_id", "text")

  test("char-level decon surgery: leaks inside tokens excise, clean text survives") {
    // a 40-char eval answer string embedded INSIDE a URL token — no
    // token window can match it, the char windows do
    val answer = "the-answer-is-paris-0123456789abcdefghij" // 40 chars
    val ev = Seq((1000L, s"benchmark answer: $answer end")).toDF("doc_id", "text")
    val corp = Seq(
      (1L, s"leak http://cheat.example/$answer?x=1 tail"),
      (2L, "perfectly clean document with no benchmark content at all"))
      .toDF("doc_id", "text")
    val got = Decontaminate.charOverlapExcise(corp, ev, n = 40)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // the full 40-char leak excises exactly, surroundings intact,
    // clean doc untouched
    assert(got(1L)._2 == 40L, got(1L).toString)
    assert(got(1L)._3 == "leak http://cheat.example/?x=1 tail")
    assert(got(2L)._2 == 0L &&
      got(2L)._3 == "perfectly clean document with no benchmark content at all")
    // and the TOKEN-window decon is blind to it — the reason c11 exists
    val tokenView = Decontaminate.ngramOverlap(corp, ev, n = 8)
    assert(tokenView.count() == 0L,
      "the in-URL leak must be invisible to token n-grams")
    graft.operators.Dedup.unpersistAll()
  }

  test("flags verbatim 8-gram leaks, spares short overlaps and clean docs") {
    val flagged = Decontaminate.ngramOverlap(corpus, evalSet, n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.contains(1L), s"leaked doc must be flagged: $flagged")
    assert(!flagged.contains(2L), "sub-threshold overlap must not flag")
    assert(!flagged.contains(3L), "clean doc must not flag")
  }

  test("clean() removes exactly the flagged documents") {
    val kept = Decontaminate.clean(corpus, evalSet, n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
    val keptBloom = Decontaminate.cleanBloom(corpus, evalSet, n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptBloom == kept, "bloom-prefiltered clean must match exact clean")
  }

  test("n_shared counts distinct shared grams") {
    // doc 1 shares exactly the grams inside the leaked 9-token run:
    // "the capital of france is paris and the capital" → two 8-grams
    val flagged = Decontaminate.ngramOverlap(corpus, evalSet, n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged(1L) == 2L, s"expected 2 shared grams, got ${flagged.get(1L)}")
  }

  test("bloom-prefiltered overlap equals the exact path, even with heavy FPs") {
    val d = Tables.load(spark, sf, "documents")
    val corp = d.filter(col("doc_id") % 10 =!= 7)
    val ev = d.filter(col("doc_id") % 10 === 7)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = toMap(Decontaminate.ngramOverlap(corp, ev, n = 8))
    assert(toMap(Decontaminate.ngramOverlapBloom(corp, ev, n = 8)) == want,
      "default bloom must reproduce the exact overlap counts")
    // a deliberately undersized, half-blind filter floods the verify join
    // with false positives — the exact join must still pin the result
    val noisy = toMap(Decontaminate.ngramOverlapBloom(corp, ev, n = 8,
      expectedGrams = 16, fpp = 0.5))
    assert(noisy == want, "bloom false positives must die in the verify join")
  }

  test("fuzzyPairs catches a reworded leak the verbatim check misses") {
    // every 7th word substituted: no verbatim 8-token run survives, but
    // the 3-shingle sets still overlap heavily — the paraphrase shape
    val longEval = (1 to 28).map(i => s"w$i").mkString(" ")
    val reworded = (1 to 28).map(i =>
      if (i % 7 == 0) s"sub$i" else s"w$i").mkString(" ")
    val ev = Seq((1000L, longEval)).toDF("doc_id", "text")
    val corp = Seq(
      (1L, reworded),
      (2L, "completely unrelated tokens about cooking pasta tonight")).toDF("doc_id", "text")
    val verbatim = Decontaminate.ngramOverlap(corp, ev, n = 8)
      .collect().map(_.getLong(0)).toSet
    assert(verbatim.isEmpty, s"no verbatim 8-gram may survive: $verbatim")
    // J ≈ 0.44 here: single-row bands (32 of them) so the banding recall
    // at this looser threshold is ~1 − (1−J)^32 ≈ 1; with the default
    // 8×4-row bands a 0.44-Jaccard pair would usually miss, correctly —
    // the default is tuned for the 0.8 operating point
    val fuzzy = Decontaminate.fuzzyPairs(corp, ev, numHashes = 32, bands = 32,
        threshold = 0.4)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(fuzzy == Set(1L), s"paraphrased leak must be flagged: $fuzzy")
  }

  test("semanticFlags catches an embedding near-copy no surface check sees") {
    // a slightly-noised copy of the eval vector (cosine ≈ 1) and two
    // unrelated vectors — the translated-leak shape: zero shared tokens,
    // near-identical embedding
    val ev = Seq((1000L, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val corp = Seq(
      (1L, Seq(0.99f, 0.01f, 0.0f, 0.0f)),   // near-copy
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),     // orthogonal
      (3L, Seq(-1.0f, 0.0f, 0.0f, 0.0f))     // opposite
    ).toDF("vec_id", "embedding")
    val flagged = Decontaminate.semanticFlags(corp, ev, tau = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.keySet == Set(1L), s"only the near-copy flags: $flagged")
    assert(flagged(1L) == 1L)
  }

  test("semanticFlags matches a driver-side cosine recompute at sf0.001") {
    val e = Tables.load(spark, sf, "embeddings")
    val got = Decontaminate.semanticFlags(
        e.filter(col("vec_id") % 10 =!= 7), e.filter(col("vec_id") % 10 === 7),
        tau = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val all = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val evs = all.filter(_._1 % 10 == 7)
    val corp = all.filter(_._1 % 10 != 7)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = corp.flatMap { case (cid, cv) =>
      val sims = evs.map(ev => cos(ev._2, cv)).filter(_ >= 0.35)
      if (sims.isEmpty) None else Some((cid, sims.length.toLong, sims.max))
    }.toSet
    assert(got == want, s"got ${got.size} flags, want ${want.size}")
  }

  test("fuzzyPairs matches a driver-side exact-Jaccard recompute at sf0.001") {
    val d = Tables.load(spark, sf, "documents")
    val got = Decontaminate.fuzzyPairs(
        d.filter(col("doc_id") % 10 =!= 7), d.filter(col("doc_id") % 10 === 7))
      .select("doc_id", "eval_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // independent recompute: 3-shingle sets in plain Scala, all pairs
    def shingles(t: String): Set[String] = {
      val toks = t.toLowerCase.split("[ \t\n\f\r]+").filter(_.nonEmpty)
      toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    val all = d.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> shingles(r.getString(1)))
    val corp = all.filter(_._1 % 10 != 7).filter(_._2.nonEmpty)
    val ev = all.filter(_._1 % 10 == 7).filter(_._2.nonEmpty)
    val want = (for {
      (ci, cs) <- corp
      (ei, es) <- ev
      inter = (cs & es).size.toDouble
      if inter / (cs.size + es.size - inter) >= 0.8
    } yield (ci, ei)).toSet
    assert(got == want, s"spark=${got.size} recompute=${want.size}")
    assert(want.nonEmpty, "sf0.001 should contain cross-split near-dups")
  }
}

class SimilaritySpec extends AnyFunSuite {
  import TestSpark._

  test("brute force top-k: k rows per query, descending sim, no self") {
    val e = Tables.load(spark, sf, "embeddings")
    val got = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3), k = 5).collect()
    assert(got.length == 15)
    got.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val sims = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      assert(rows.forall(_.getLong(1) != q))
    }
  }

  test("radius search: exactly the top-k prefix above tau, sim-bounded, no self") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 3)
    val got = Similarity.radiusSearch(e, q, tau = 0.25).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.forall { case (qid, nid, sim) => qid != nid && sim >= 0.25 })
    // radius ≡ the brute-force ranking filtered at tau (same kernel, no
    // heap): every top-k hit above tau appears, nothing else does, for
    // k large enough to cover the radius
    val bf = Similarity.bruteForceTopK(e, q, k = 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(_._3 >= 0.25)
    assert(got.toSet == bf.toSet, s"radius=${got.length} topk-filtered=${bf.length}")
    intercept[IllegalArgumentException] {
      Similarity.radiusSearch(e, q, tau = 1.5)
    }
  }

  test("IVF radius: full probe equals exact; pruned is a subset of exact") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = asSet(Similarity.radiusSearch(e, q, tau = 0.25))
    val full = asSet(Similarity.ivfRadius(e, q, tau = 0.25,
      nlist = 8, nprobe = 8, lloydIters = 0))
    assert(full == exact, s"full probe must equal exact: ${full.size} vs ${exact.size}")
    val pruned = asSet(Similarity.ivfRadius(e, q, tau = 0.25,
      nlist = 8, nprobe = 2, lloydIters = 0))
    assert(pruned.subsetOf(exact),
      "pruning may only DROP qualifying neighbors, never invent or rescore them")
    intercept[IllegalArgumentException] {
      Similarity.ivfRadius(e, q, tau = -2.0)
    }
  }

  test("IVF recall grows with nprobe (uniform-random data: recall ~ nprobe/nlist)") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(e, q, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nprobe: Int): Double = {
      val ivf = Similarity.ivfTopK(e, q, k = 10, nlist = 16, nprobe = nprobe).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (bf & ivf).size.toDouble / bf.size
    }
    val r4 = recall(4)
    val r12 = recall(12)
    // synthetic embeddings are uniform-random: there is no cluster structure
    // for IVF to exploit, so recall tracks the scanned fraction; correctness
    // of the plumbing is pinned by the nprobe=nlist exact-equality test below
    assert(r4 >= 0.15, s"nprobe=4 recall suspiciously low: $r4")
    assert(r12 >= r4, s"recall must not shrink with more probes: $r4 -> $r12")
    assert(r12 >= 0.5, s"nprobe=12/16 recall too low: $r12")
  }

  test("Lloyd refinement: recall >= raw seed at same nlist/nprobe, deterministic") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(e, q, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(iters: Int): Double = {
      val ivf = Similarity
        .ivfTopK(e, q, k = 10, nlist = 16, nprobe = 4, lloydIters = iters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (bf & ivf).size.toDouble / bf.size
    }
    val r0 = recall(0)
    val r2 = recall(2)
    assert(r2 >= r0, s"Lloyd refinement must not lose recall: $r0 -> $r2")
    // determinism: hash-ordered seed + id-tiebroken assignment + decimal
    // sums make the refined centroids identical across runs
    val a = Similarity.lloydCentroids(e, 16, 2).collect()
      .map(_.toString).sorted.toSeq
    val b = Similarity.lloydCentroids(e, 16, 2).collect()
      .map(_.toString).sorted.toSeq
    assert(a == b, "refined centroids must be deterministic")
  }

  test("semantic dedup collapses planted near-dups, leaves the rest alone") {
    import spark.implicits._
    // deterministic synthetic corpus: 40 well-spread vectors + two planted
    // near-identical pairs (1e-3 perturbation ⇒ cosine ≈ 1 ≫ 0.95, and the
    // pair members share a nearest centroid by construction). The mix
    // needs a seed×i cross term — a seed-only offset would make every
    // vector a constant shift of every other (cosine ≈ 1 across the board)
    def vec(seed: Int): Seq[Float] =
      (0 until 16).map { i =>
        val h = (seed * 1103515245L + i * 2654435761L + seed.toLong * i * 97003L) % 10007L
        ((if (h < 0) h + 10007 else h) / 10007.0f) - 0.5f
      }
    val base = (0L until 40L).map(id => (id, vec(id.toInt)))
    val planted = Seq(
      (100L, base(3)._2.updated(0, base(3)._2.head + 1e-3f)),
      (101L, base(7)._2.updated(1, base(7)._2(1) - 1e-3f)))
    val embs = (base ++ planted).toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(embs, nlist = 4, lloydIters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(100L) == 3L, s"planted dup 100 should collapse onto 3, got ${got(100L)}")
    assert(got(101L) == 7L, s"planted dup 101 should collapse onto 7, got ${got(101L)}")
    // spread base vectors stay their own rep (no false collapses at 0.95)
    // except the planted partners' bases, which are reps (= self) anyway
    assert(base.map(_._1).forall(id => got(id) == id),
      "no base vector may collapse onto another")
    // deterministic under partitioning
    val again = Similarity.semanticDedup(embs.repartition(5), nlist = 4, lloydIters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again == got)
  }

  test("a2's recall@10 at the gate SF holds its measured floor") {
    // pins the pruned-probe (nlist=16, nprobe=4) recall at the gate scale
    // factor so a centroid-quality regression breaks sbt test instead of
    // only showing in a hand-run recall measurement. The floor is the measured
    // value (0.44 on sf0.01's uniform-random embeddings — there is no
    // cluster structure to exploit, so recall tracks the scanned fraction
    // plus top-k overlap luck) minus slack; a2p (full probe) pins
    // exactness, THIS pins that pruning never gets catastrophically worse.
    val gateSf = "/root/testdata/sf0.01"
    val e = Tables.load(spark, gateSf, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(e, q, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(e, q, k = 10, nlist = 16, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    info(f"gate-SF recall@10 (nlist=16, nprobe=4): $recall%.3f")
    assert(recall >= 0.35, f"a2 recall@10 regressed at the gate SF: $recall%.3f")
  }

  test("IVF with nprobe = nlist equals brute force exactly") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 3)
    val bf = Similarity.bruteForceTopK(e, q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val ivf = Similarity.ivfTopK(e, q, k = 5, nlist = 8, nprobe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(bf == ivf)
  }

  test("IVF index save/load roundtrip: prefitted serving path equals inline fit") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val inline = Similarity.ivfTopK(e, q, k = 10, nlist = 16, nprobe = 4,
        lloydIters = 2).collect().map(_.toString).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.saveIvfIndex(Similarity.lloydCentroids(e, 16, 2), s"$tmp/idx")
    val served = Similarity.ivfTopKWith(
        Similarity.loadIvfIndex(spark, s"$tmp/idx"), e, q, k = 10, nprobe = 4)
      .collect().map(_.toString).toSeq
    assert(inline == served,
      "a saved+reloaded index must serve identical results to the inline fit")
  }

  test("ivfAssign append: drop assignment equals full re-assignment, via the persisted index") {
    val e = Tables.load(spark, sf, "embeddings")
    val base = e.filter(col("vec_id") % 4 =!= 0)
    val drop = e.filter(col("vec_id") % 4 === 0)
    val cells = Similarity.lloydCentroids(
      base.select(col("vec_id"), col("embedding")), nlist = 8, iters = 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft_a9").toString
    Similarity.saveIvfIndex(cells, s"$tmp/idx")
    val loaded = Similarity.loadIvfIndex(spark, s"$tmp/idx")
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val appended = asMap(Similarity.ivfAssign(loaded, drop))
    assert(appended == asMap(Similarity.ivfAssign(cells, drop)),
      "the persisted index must assign bit-identically to the in-memory fit")
    // append-only maintenance ≡ full re-assignment of base ∪ drop: the
    // drop's appended rows are exactly what a from-scratch assignment
    // emits for them, and base+drop partitions the union
    val full = asMap(Similarity.ivfAssign(loaded, e))
    assert(appended.forall { case (id, c) => full(id) == c })
    val baseA = asMap(Similarity.ivfAssign(loaded, base))
    assert(baseA.size + appended.size == full.size)
  }

  test("ivfMaintain: in-distribution drop keeps the index; shifted drop refits") {
    import spark.implicits._
    def planted(ids: Range, center: Int => Array[Double]) =
      ids.map { i =>
        val c = center(i)
        (i.toLong, c.zipWithIndex.map { case (x, d) =>
          x + (if (d == 2) 0.01 * ((i % 5) - 2) else 0.0) })
      }.toDF("vec_id", "embedding")
    val axis0 = Array(1.0, 0.0, 0.0, 0.0)
    val axis1 = Array(0.0, 1.0, 0.0, 0.0)
    val base = planted(0 until 40, i => if (i % 2 == 0) axis0 else axis1)
    val cells = Similarity.lloydCentroids(base, nlist = 2, iters = 2)
    // drop A: same two planted clusters — per-cell means track the
    // stored centroids, the monitor keeps serving the existing index
    val dropSame = planted(100 until 120, i => if (i % 2 == 0) axis0 else axis1)
    val (kept, refit1) =
      Similarity.ivfMaintain(cells, base, dropSame, nlist = 2, minCos = 0.9)
    assert(!refit1 && (kept eq cells), "in-distribution drop must not refit")
    // drop B: a SHIFTED distribution (third axis, tiny positive first
    // component so every vector lands in one deterministic cell) — the
    // populated cell's drift cosine collapses and the monitor refits
    val dropShift = (200 until 220).map { i =>
      (i.toLong, Array(0.001 * (i % 3 + 1), 0.0, 1.0, 0.0))
    }.toDF("vec_id", "embedding")
    val d = Similarity.ivfDrift(cells, dropShift).collect().sortBy(_.getInt(0))
    assert(d.length == 2, "one drift row per index cell")
    val (empty, hit) = d.partition(_.getLong(1) == 0L)
    assert(empty.length == 1 && empty.head.isNullAt(2),
      "the unhit cell reports n_new = 0 with a null cosine")
    assert(hit.length == 1 && hit.head.getDouble(2) < 0.1,
      s"shifted drop must show near-zero drift cosine: ${hit.toSeq}")
    val (refitted, refit2) =
      Similarity.ivfMaintain(cells, base, dropShift, nlist = 2, minCos = 0.9)
    assert(refit2, "shifted drop must trigger a refit")
    def cset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[scala.collection.Seq[Double]]("centroid")).toSet
    assert(cset(refitted) != cset(cells),
      "the refit must actually move the centroids")
  }

  test("ivfPartialRefit: planted drift refits ONLY the hit cell; recall recovers") {
    import spark.implicits._
    // base: two clusters on axis0/axis1 (nlist = 2); the drop arrives
    // on axis2 with a tiny axis1 tilt, so every drop vector lands in
    // the axis1 cell — exactly one cell drifts
    def vecs(ids: Range, f: Int => Array[Double]) =
      ids.map(i => (i.toLong, f(i).toSeq)).toDF("vec_id", "embedding")
    val base = vecs(0 until 10, i => Array(1.0, 0.0, 0.0, 0.001 * (i % 3)))
      .unionByName(
        vecs(10 until 16, i => Array(0.0, 1.0, 0.0, 0.001 * (i % 3))))
    val drop = vecs(100 until 120,
      i => Array(0.0, 0.001, 1.0, 0.001 * (i % 3)))
    val cells = Similarity.lloydCentroids(base, nlist = 2, iters = 2)
    val refit = Similarity.ivfPartialRefit(cells, base, drop,
      minCos = 0.9, iters = 2)
    val flags = refit.collect()
      .map(r => r.getInt(0) -> r.getBoolean(2)).toMap
    assert(flags.values.count(identity) == 1,
      s"exactly the drop-hit cell must refit: $flags")
    // the healthy centroid passes through BIT-IDENTICAL
    val oldC = cells.collect()
      .map(r => r.getInt(0) ->
        r.getAs[scala.collection.Seq[Double]]("centroid")).toMap
    val newC = refit.collect()
      .map(r => r.getInt(0) ->
        r.getAs[scala.collection.Seq[Double]]("centroid")).toMap
    flags.collect { case (id, false) => id }.foreach { id =>
      assert(newC(id) == oldC(id), s"healthy cell $id must not move")
    }
    // recall@5 for FRESH drifted queries (axis2, slightly repelled from
    // the axis1 cell so the pre-refit probe deterministically misses):
    // near zero before, recovered after
    val union = base.unionByName(drop)
    val queries = vecs(900 until 904, _ => Array(0.0, -0.001, 1.0, 0.0))
    val truth = Similarity.bruteForceTopK(union, queries, k = 5)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(cents: org.apache.spark.sql.DataFrame): Double = {
      val got = Similarity.ivfTopKWith(
          cents.select(col("centroid_id"), col("centroid")),
          union, queries, k = 5, nprobe = 1)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val before = recall(cells)
    val after = recall(refit)
    assert(after >= before, s"refit must not lose recall: $before -> $after")
    assert(before < 0.5 && after > 0.9,
      s"the planted drift must be live (miss before, hit after): " +
        s"$before -> $after")
    // a2p preservation: FULL probe over the refit cells still equals
    // brute force exactly (cell boundaries never affect an exhaustive
    // probe)
    val full = Similarity.ivfTopKWith(
        refit.select(col("centroid_id"), col("centroid")),
        union, queries, k = 5, nprobe = 2)
      .select(col("query_id"), col("neighbor_id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bf = Similarity.bruteForceTopK(union, queries, k = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full == bf, "full-probe equality must survive the refit")
    // reassignment containment: healthy-cell members never move; refit-
    // cell members stay within the refit set
    val affected = flags.collect { case (id, true) => id }.toSet
    val re = Similarity.ivfReassignAfterRefit(cells, refit, union).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(re.filter(t => !affected(t._2)).forall(t => t._3 == t._2),
      "healthy-cell members must keep their assignment untouched")
    assert(re.filter(t => affected(t._2)).forall(t => affected(t._3)),
      "refit-cell members must land within the refit cells")
    // no drift ⇒ pass-through with refit = false everywhere
    val calm = Similarity.ivfPartialRefit(cells, base,
      base.limit(4), minCos = 0.9)
    assert(calm.filter(col("refit")).count() == 0L)
    assert(calm.collect().map(r => r.getInt(0) ->
      r.getAs[scala.collection.Seq[Double]]("centroid")).toMap == oldC)
  }
}

/** The round-4 corpus-curation additions: repetition signals, deterministic
  * split assignment, global-frequency scoring, int8 quantization. Each is
  * verified against an INDEPENDENT driver-side recompute in plain Scala (a
  * different algorithm from both the Spark array kernels and the DuckDB
  * oracle), so all three implementations must agree.
  */
class CorpusOpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def docs: Map[Long, String] =
    Tables.load(spark, sf, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("maxRunLength = max multiplicity, including empties and empty array") {
    val df = Seq(
      (Seq("a", "a", "b"), 2L),
      (Seq("x"), 1L),
      (Seq.empty[String], 0L),
      (Seq("", "", "z"), 2L),
      (Seq("m", "m", "m", "m"), 4L)).toDF("arr", "want")
    df.select(TextFunctions.maxRunLength(array_sort(col("arr"))).as("got"),
        col("want")).collect()
      .foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("graft_rep_stats matches the composable split/sort/fold form on edges") {
    val edges = Seq("", " ", "a", "a a", "a a a b b", "x  y", "trailing ",
      "the the the the", "a b a b a b")
    val df = edges.toDF("text")
    val r = call_function("graft_rep_stats", col("text"))
    val toks = split(col("text"), " ")
    val b = TextFunctions.wordShingles(toks, 2)
    def bigramFrac(v: org.apache.spark.sql.Column) =
      when(size(b) === 0, lit(null).cast("double")).otherwise(v)
    val got = df.select(
      r.getField("n_tokens"), size(toks).cast("long"),
      r.getField("top_token_frac"),
      TextFunctions.maxRunLength(array_sort(toks)).cast("double") / size(toks),
      r.getField("dup_bigram_frac"),
      bigramFrac((size(b) - size(array_distinct(b))).cast("double") / size(b)),
      r.getField("top_bigram_frac"),
      bigramFrac(TextFunctions.maxRunLength(array_sort(b)).cast("double") / size(b)),
      col("text")).collect()
    got.foreach { row =>
      Seq(0, 2, 4, 6).foreach { i =>
        assert(row.get(i) == row.get(i + 1),
          s"field $i mismatch on '${row.getString(8)}': ${row.get(i)} vs ${row.get(i + 1)}")
      }
    }
  }

  test("graft_ahash matches a driver-side block-sum recompute; edge cases pinned") {
    def refAHash(s: String): (Long, Long) = {
      val cps = s.codePoints().toArray
      val n = cps.length
      if (n == 0) return (0L, 0L)
      val bl = math.max(n / 64, 1)
      val used = math.min(n, 64 * bl)
      val sums = new Array[Long](64)
      var total = 0L
      (0 until used).foreach { i => sums(i / bl) += cps(i); total += cps(i) }
      var hi = 0L; var lo = 0L
      (0 until 64).foreach { j =>
        if (sums(j) * 64 > total) {
          if (j < 32) hi |= 1L << j else lo |= 1L << (j - 32)
        }
      }
      (hi, lo)
    }
    val edges = Seq("", "a", "abc", "z" * 64, "a" * 200 + "z" * 56,
      ("abcdefgh" * 40).take(300), "constant" * 8)
    val df = edges.toDF("text")
      .select(col("text"), call_function("graft_ahash", col("text")).as("h"))
      .select(col("text"), col("h")(0).as("hi"), col("h")(1).as("lo"))
    df.collect().foreach { r =>
      val (hi, lo) = refAHash(r.getString(0))
      assert(r.getLong(1) == hi && r.getLong(2) == lo,
        s"ahash mismatch on '${r.getString(0).take(20)}...'")
    }
    // near-dup property: a 4-char overlay perturbs few blocks
    val base = "the quick brown fox jumps over the lazy dog " * 8
    val (h1, l1) = refAHash(base)
    val (h2, l2) = refAHash(base.substring(0, 4) + "zzzz" + base.substring(8))
    val ham = java.lang.Long.bitCount(h1 ^ h2) + java.lang.Long.bitCount(l1 ^ l2)
    assert(ham <= 6, s"length-preserving overlay should stay near: hamming $ham")
  }

  test("t9 repetition matches a driver-side recompute") {
    val d = docs
    val rows = Pipeline.queries("t9_repetition")(spark, sf).collect()
    assert(rows.length == d.size)
    rows.foreach { r =>
      // split(" ", -1) keeps trailing empties, like Spark's split and
      // DuckDB's string_split
      val t = d(r.getLong(0)).split(" ", -1)
      assert(r.getLong(1) == t.length)
      val topTok = t.groupBy(identity).valuesIterator.map(_.length).max
      assert(r.getDouble(2) == topTok.toDouble / t.length)
      val big = t.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      if (big.nonEmpty) {
        val bc = big.groupBy(identity).map { case (_, v) => v.length }
        assert(r.getDouble(3) == (big.size - bc.size).toDouble / big.size)
        assert(r.getDouble(4) == bc.max.toDouble / big.size)
      } else {
        assert(r.isNullAt(3) && r.isNullAt(4))
      }
    }
  }

  test("s3 split: bucket is the first md5 byte, ranges fixed, all splits present") {
    val rows = Pipeline.queries("s3_split_assign")(spark, sf).collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      val b = r.getInt(1)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      assert(b == (md(0) & 0xff), s"doc $id bucket")
      val want = if (b < 245) "train" else if (b < 250) "val" else "test"
      assert(r.getString(2) == want)
    }
    assert(rows.map(_.getString(2)).toSet == Set("train", "val", "test"))
    // split must be a pure function of doc_id: re-running yields identical rows
    val again = Pipeline.queries("s3_split_assign")(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("u1 mean global token count matches a driver-side recompute") {
    val d = docs
    val g = d.values.toSeq.flatMap(_.split(" ", -1))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val rows = Pipeline.queries("u1_token_surprisal")(spark, sf).collect()
    assert(rows.length == d.size)
    rows.foreach { r =>
      val t = d(r.getLong(0)).split(" ", -1)
      assert(r.getLong(1) == t.length)
      assert(r.getDouble(2) == t.map(g(_).toLong).sum.toDouble / t.length)
    }
  }

  test("s4 stratified sample equals the window-rank recompute") {
    val d = Tables.load(spark, sf, "documents")
    val got = Pipeline.queries("s4_stratified_sample")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    val want = d.select(col("doc_id"), col("lang"),
        row_number().over(w).as("rank"))
      .filter(col("rank") <= 20)
      .orderBy(col("lang"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(got == want)
    // every language present contributes min(20, its doc count) rows
    val counts = d.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> math.min(20L, r.getLong(1))).toMap
    val gotCounts = got.groupBy(_._2).map { case (l, v) => l -> v.size.toLong }
    assert(gotCounts == counts)
  }

  test("PII redaction masks planted emails/phones, leaves clean text intact") {
    val df = Seq(
      ("write to alice.smith+spam@example.co.uk today", 1, 0),
      ("call +1 (415) 555-0199 or 030-1234567 now", 0, 2),
      ("bob@sub.domain.org and backup bob2@example.io", 2, 0),
      ("no pii here, just words and the number 7", 0, 0),
      ("", 0, 0)).toDF("text", "n_email", "n_phone")
    val got = df.select(
      TextFunctions.redactPii(col("text")).as("red"),
      TextFunctions.emailCount(col("text")).as("ne"),
      TextFunctions.phoneCount(col("text")).as("np"),
      col("n_email"), col("n_phone"), col("text")).collect()
    got.foreach { r =>
      assert(r.getInt(1) == r.getInt(3), s"email count: ${r.getString(5)}")
      assert(r.getInt(2) == r.getInt(4), s"phone count: ${r.getString(5)}")
      val red = r.getString(0)
      assert(!red.contains("@"), s"no raw email may survive: $red")
      if (r.getInt(3) > 0) assert(red.contains("<EMAIL>"))
      if (r.getInt(4) > 0) assert(red.contains("<PHONE>"))
    }
    // clean text passes through byte-identical
    assert(got(3).getString(0) == "no pii here, just words and the number 7")
  }

  test("v3 covariance sums match a BigDecimal driver recompute, any partitioning") {
    val e = Tables.load(spark, sf, "embeddings")
    val vecs = e.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val got = SparkEntry.queries("v3_embedding_covariance")(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got.size == 64 * 65 / 2, s"expected full upper triangle, got ${got.size}")
    // mirror the decimal route: each double rounds to 12 frac digits
    // (HALF_UP, Spark's double→decimal cast), sums exactly, one final
    // rounding back to double
    def dec(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    Seq((0, 0), (0, 1), (3, 7), (63, 63)).foreach { case (i, j) =>
      val (n, sxy, sx, sy) = got((i, j))
      assert(n == vecs.length.toLong)
      assert(sxy == vecs.map(v => dec(v(i) * v(j))).sum.toDouble, s"sxy($i,$j)")
      assert(sx == vecs.map(v => dec(v(i))).sum.toDouble, s"sx($i,$j)")
      assert(sy == vecs.map(v => dec(v(j))).sum.toDouble, s"sy($i,$j)")
    }
    // the BigDecimal mirror above IS the partitioning-independence proof:
    // decimal accumulation is exact, so any summation order gives the
    // same total — the same argument d7's gate rests on
  }

  test("v1 int8 quantization: exact scale/values, max component hits ±127") {
    val vecs = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val rows = Pipeline.queries("v1_vec_quantize")(spark, sf).collect()
    assert(rows.length == vecs.size)
    rows.foreach { r =>
      val v = vecs(r.getLong(0)).map(_.toDouble)
      val scale = 127.0 / v.map(math.abs).max
      assert(r.getDouble(1) == scale)
      val q = v.map(x => math.floor(x * scale + 0.5).toInt)
      assert(r.getString(2) == q.mkString(","))
      assert(r.getLong(3) == q.map(_.toLong).sum)
      assert(q.map(math.abs).max == 127, s"max |component| must quantize to 127")
    }
  }
}

class TokenizerSpec extends AnyFunSuite {
  import TestSpark._
  import graft.operators.Tokenizer

  test("BPE merges: classic example, deterministic tie-breaks") {
    // Sennrich et al.'s worked example; ties on pair frequency break
    // lexicographically (round 1: (e,s)/(s,t)/(t,</w>) all have count 9)
    val counts = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val merges = Tokenizer.learnFromCounts(counts, 5)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("est", "</w>"),
      ("l", "o"), ("lo", "w")))
    assert(Tokenizer.segmentWord("lowest", merges) == Seq("low", "est"))
    assert(Tokenizer.segmentWord("lower", merges) == Seq("low", "e", "r"))
    // unseen word still segments (down to chars where no merge applies)
    assert(Tokenizer.segmentWord("west", merges) == Seq("w", "est"))
  }

  test("merge loop stops early when no pairs remain") {
    val merges = Tokenizer.learnFromCounts(Seq("ab" -> 1L), 100)
    // "a b </w>" admits exactly 2 merges before becoming one symbol
    assert(merges.size == 2)
  }

  test("byte remap is GPT-2's bytes_to_unicode table exactly") {
    // printable Latin-1 bytes (33..126, 161..172, 174..255) map to
    // themselves; the other 68 map to U+0100.. in byte order — so byte
    // 32 (space) is the 33rd non-printable and lands on U+0120 'Ġ',
    // the marker every GPT-2-family vocab file is full of
    assert(Tokenizer.ByteRemap.length == 256)
    assert(Tokenizer.ByteRemap('a'.toInt) == "a")
    assert(Tokenizer.ByteRemap(33) == "!")
    assert(Tokenizer.ByteRemap(126) == "~")
    assert(Tokenizer.ByteRemap(32) == "Ġ") // Ġ
    assert(Tokenizer.ByteRemap(0) == "Ā")  // Ā
    assert(Tokenizer.ByteRemap(173) == "Ń") // soft hyphen → Ń
    assert(Tokenizer.ByteRemap(195) == "Ã")
    assert(Tokenizer.ByteRemap.distinct.length == 256,
      "the remap must be a bijection — decode depends on it")
    assert(Tokenizer.ByteRemap.count(_.codePointAt(0) >= 256) == 68)
  }

  test("byte symbols: identity on printable ASCII, UTF-8 split beyond") {
    // printable-ASCII words: byte symbols ≡ code-point symbols — the
    // equivalence that makes byte-level a strict generalization
    for (w <- Seq("fast", "window", "a", "hash-join", "x2!"))
      assert(Tokenizer.byteSymbols(w) ==
        w.split("").filter(_.nonEmpty).toVector, s"ascii word $w")
    // non-ASCII divergence pinned: é = 0xC3 0xA9 → "Ã","©" (both
    // printable bytes, self-mapped); 東 = 0xE6 0x9D 0xB1 with 0x9D
    // non-printable → remapped to U+013F 'Ŀ'
    assert(Tokenizer.byteSymbols("café") ==
      Vector("c", "a", "f", "Ã", "©"))
    assert(Tokenizer.byteSymbols("東") == Vector("æ", "Ŀ", "±"))
    // a non-BMP code point is four byte symbols, never a lone surrogate
    assert(Tokenizer.byteSymbols(new String(Character.toChars(0x1F600)))
      .length == 4)
  }

  test("byte-level trainer ≡ code-point trainer on a pure-ASCII corpus") {
    // same counts, same tie-breaks, identical symbol domain on ASCII ⇒
    // the identical merge sequence — the byte≡code-point equivalence
    val counts = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L,
      "widest" -> 3L)
    val cp = Tokenizer.learnFromCounts(counts, 5)
    val by = Tokenizer.learnFromCounts(counts, 5, Tokenizer.byteSymbols)
    assert(by == cp, "ASCII corpora must learn identical merges")
    // and the segmenters agree word-for-word under the shared table
    for (w <- Seq("lowest", "lower", "west", "analytics"))
      assert(Tokenizer.byteSegmentWord(w, cp) ==
        Tokenizer.segmentWord(w, cp))
  }

  test("byte-level trainer diverges from code-point on non-ASCII — pinned") {
    // every word is 'éé': the code-point domain sees pairs (é,é) and
    // (é,</w>) at count 3 each and the lexicographic tie-break picks
    // (é,</w>) ('<' sorts below 'é'); the byte domain sees é's two
    // bytes (Ã,©) TWICE per word — count 6 beats every count-3 pair, so
    // it must merge the intra-code-point byte pair first. That
    // sub-character merge is the divergence byte-level BPE is defined by.
    val counts = Seq("éé" -> 3L)
    val cp = Tokenizer.learnFromCounts(counts, 1)
    val by = Tokenizer.learnFromCounts(counts, 1, Tokenizer.byteSymbols)
    assert(cp == Seq(("é", "</w>")))
    assert(by == Seq(("Ã", "©")))
    // byte segmentation under a byte table reassembles the code point
    // after enough merges: 4 byte symbols + </w> admits ("Ã©" twice,
    // then fuse) — and the segment output is remapped BYTES, not chars
    val full = Tokenizer.learnFromCounts(counts, 4, Tokenizer.byteSymbols)
    assert(Tokenizer.byteSegmentWord("éé", full).mkString
      .startsWith("Ã©"))
  }

  test("byte rank-greedy PQ ≡ sequential application (differential)") {
    val counts = Seq("café" -> 4L, "naïve" -> 3L, "fast" -> 5L,
      "東京" -> 2L, "low" -> 6L)
    val merges = Tokenizer.learnFromCounts(counts, 12, Tokenizer.byteSymbols)
    for (w <- Seq("café", "naïve", "fast", "東京", "low", "cafés", "naïveté"))
      assert(Tokenizer.byteSegmentWord(w, merges) ==
        Tokenizer.byteSegmentWordSequential(w, merges), s"word $w")
    // lossless: concatenated byte subwords = the word's remapped bytes
    for (w <- Seq("café", "東京", "fast"))
      assert(Tokenizer.byteSegmentWord(w, merges).mkString ==
        Tokenizer.byteSymbols(w).mkString)
  }

  test("distributed byte merge rounds learn the driver byte trainer's merges") {
    import graft.operators.Dedup
    val d = Tables.load(spark, sf, "documents").filter(col("lang") === "en")
    try {
      val rows = Tokenizer.distributedByteMergeRounds(d, rounds = 3)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      val driver = Tokenizer.learnByteBpeMerges(d, numMerges = 3)
      assert(rows.map(r => (r._2, r._3)).toSeq == driver,
        s"distributed byte merges ${rows.toSeq} must equal driver $driver")
      // this corpus is printable ASCII, so the byte rounds must ALSO
      // equal the code-point rounds — the u10 equivalence at cluster scale
      val cp = Tokenizer.distributedMergeRounds(d, rounds = 3)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      assert(rows.toSeq == cp.toSeq,
        "ASCII corpus: byte and code-point distributed trainers must agree")
      // and on a planted non-ASCII corpus they must NOT: the byte
      // trainer's first merge is é's intra-code-point byte pair
      import spark.implicits._
      val acc = Seq.fill(3)((1L, "éé")).toDF("doc_id", "text")
      val by = Tokenizer.distributedByteMergeRounds(acc, rounds = 1)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      assert(by == Seq(("Ã", "©")), s"expected the UTF-8 byte pair, got $by")
    } finally Dedup.unpersistAll()
  }

  test("byte column form matches the driver segmenter (incl. fixed u10 table)") {
    val d = Tables.load(spark, sf, "documents")
    val merges = graft.queries.Pipeline.ByteBpeMerges
    val rows = d.limit(20)
      .select(col("text"), Tokenizer.byteSegment(col("text"), merges).as("s"))
      .collect()
    rows.foreach { r =>
      val want = r.getString(0).toLowerCase.split("[ \t\n\f\r]+")
        .filter(_.nonEmpty).toSeq
        .flatMap(w => Tokenizer.byteSegmentWord(w, merges))
      assert(r.getSeq[String](1) == want)
    }
  }

  test("distributed fit is partitioning-independent; column form matches driver") {
    val d = Tables.load(spark, sf, "documents")
    val merges = Tokenizer.learnBpeMerges(d, numMerges = 16)
    assert(merges.size == 16)
    assert(Tokenizer.learnBpeMerges(d.repartition(7), numMerges = 16) == merges,
      "same corpus must learn the same merges under any partitioning")
    val rows = d.limit(20)
      .select(col("text"), Tokenizer.segment(col("text"), merges).as("s"))
      .collect()
    rows.foreach { r =>
      val want = r.getString(0).toLowerCase.split("[ \t\n\f\r]+")
        .filter(_.nonEmpty).toSeq
        .flatMap(w => Tokenizer.segmentWord(w, merges))
      assert(r.getSeq[String](1) == want)
    }
    // segmentation is lossless per word: concatenated subwords = the word
    val word = "analytics"
    assert(Tokenizer.segmentWord(word, merges).mkString == word)
  }

  test("distributed merge rounds learn the driver trainer's exact merges") {
    import graft.operators.Dedup
    // the cap-free cluster path must agree with the capped driver loop
    // on a corpus where the cap doesn't bind — same sentinel, same
    // (a, b) tie-break, same left-to-right non-overlapping application
    val d = Tables.load(spark, sf, "documents").filter(col("lang") === "en")
    try {
      val rows = Tokenizer.distributedMergeRounds(d, rounds = 3)
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4)))
      val driver = Tokenizer.learnBpeMerges(d, numMerges = 3)
      assert(rows.map(r => (r._2, r._3)).toSeq == driver,
        s"distributed merges ${rows.toSeq} must equal driver $driver")
      assert(rows.map(_._1).toSeq == Seq(1, 2, 3))
      // each merge removes at most cnt symbols (exactly cnt when a ≠ b;
      // self-overlapping a == b pairs can merge fewer) and at least one
      rows.sliding(2).foreach { case Array(prev, next) =>
        assert(next._5 < prev._5 && next._5 >= prev._5 - next._4,
          s"n_syms must fall by ≤ cnt: $prev -> $next")
      }
      // partitioning invariance (decimal-free exact longs + fold)
      val rep = Tokenizer.distributedMergeRounds(d.repartition(7), rounds = 3)
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4)))
      assert(rep.toSeq == rows.toSeq)
    } finally Dedup.unpersistAll()
  }

  test("priority-queue segmenter ≡ sequential rule application at ≥8k merges") {
    // production merge tables run 32k-100k rules; the PQ segmenter is
    // O(|word| log |word|) independent of table size, and must stay
    // EXACTLY equivalent to applying the rules in learned order. Learn a
    // large table from a deterministic synthetic vocabulary, then diff the
    // two algorithms word by word.
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    val vocab = (0 until 3000).map { _ =>
      val len = 4 + rnd.nextInt(9)
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }.distinct
    val counts = vocab.map(w => w -> (1L + rnd.nextInt(50)))
    val merges = Tokenizer.learnFromCounts(counts, 8192)
    assert(merges.size >= 8192, s"vocabulary too small: ${merges.size} merges")
    val probes = vocab.take(300) ++ Seq("", "a", "zzz", "abcdefgh",
      "hgfedcba", "aaaaaaaaaaaa")
    probes.foreach { w =>
      val pq = Tokenizer.segmentWord(w, merges)
      val seq = Tokenizer.segmentWordSequential(w, merges)
      assert(pq == seq, s"segmenters diverge on '$w': $pq vs $seq")
      assert(pq.mkString == w, s"lossy segmentation of '$w'")
    }
  }

  test("non-BMP characters segment as whole code points, never lone surrogates") {
    // emoji/CJK-extension chars are surrogate PAIRS in UTF-16; symbols are
    // built per code point so an unmerged symbol is still a valid string
    // (a lone surrogate would be mangled to U+FFFD by UTF8String)
    val counts = Seq("a😀b" -> 5L, "😀😀" -> 3L,
      "plain" -> 7L)
    val merges = Tokenizer.learnFromCounts(counts, 4)
    Seq("a😀b", "😀😀", "x😀").foreach { w =>
      val segs = Tokenizer.segmentWord(w, merges)
      assert(segs.mkString == w, s"lossy segmentation of '$w': $segs")
      segs.foreach { s =>
        val last = s.charAt(s.length - 1)
        assert(!Character.isHighSurrogate(last),
          s"symbol '$s' ends in a lone high surrogate")
        assert(!Character.isLowSurrogate(s.charAt(0)),
          s"symbol '$s' starts with a lone low surrogate")
      }
    }
    // and the column form round-trips through UTF8String unmangled
    import spark.implicits._
    val got = Seq("a😀b").toDF("text")
      .select(Tokenizer.segment(col("text"), merges).as("s"))
      .collect().head.getSeq[String](0)
    assert(got.mkString == "a😀b", s"UTF8String mangled: $got")
  }

  test("u4's fixed merge table: rank-greedy equals sequential on every " +
      "corpus word (the learned-chain property the oracle fold relies on)") {
    // the u4_bpe_encode oracle replays the table as six sequential
    // list_reduce folds; Tokenizer.segment applies rank-greedy — the two
    // agree exactly when each rule consumes only chars or earlier rules'
    // outputs, which this asserts corpus-wide (plus the planted words
    // that exercise every chain)
    val merges = Seq(("s", "t"), ("a", "st"), ("f", "ast"),
      ("h", "a"), ("ha", "s"), ("has", "h"))
    assert(Tokenizer.segmentWord("fast", merges) == Seq("fast"))
    assert(Tokenizer.segmentWord("hash", merges) == Seq("hash"))
    assert(Tokenizer.segmentWord("stream", merges) ==
      Seq("st", "r", "e", "a", "m"))
    val vocab = Tables.load(spark, sf, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("w"))
      .distinct().collect().map(_.getString(0))
    assert(vocab.nonEmpty)
    vocab.foreach { w =>
      assert(Tokenizer.segmentWord(w, merges) ==
        Tokenizer.segmentWordSequential(w, merges),
        s"greedy/sequential divergence on '$w'")
    }
  }

  test("blocklist filter counts occurrences, not distinct hits") {
    import spark.implicits._
    val bl = array(Seq("dup", "spam").map(lit): _*)
    val got = Seq((1L, "dup x dup spam y"), (2L, "clean text only"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        size(filter(graft.functions.TextFunctions.tokens(col("text")),
          t => array_contains(bl, t))).as("n_blocked"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 3, 2L -> 0))
  }

  /** Driver replay of the unigram-LM round — same seed, bit-length
    * weights, (cost, path)-lexicographic Viterbi, usage, and prune as
    * the distributed trainer, in plain Scala.
    */
  private def bruteUnigram(words: Seq[(String, Long)], maxPieceLen: Int,
      seedCap: Int, vocabTarget: Int): Seq[(String, Long)] = {
    val spans = for {
      (w, c) <- words
      j <- 0 until w.length
      l <- 1 to math.min(maxPieceLen, w.length - j)
    } yield (w.substring(j, j + l), c)
    val seedAll = spans.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val chars = seedAll.filter(_._1.length == 1)
    val multi = seedAll.filter(_._1.length > 1).toSeq
      .sortBy { case (p, s) => (-s, p) }.take(seedCap)
    val vocab = chars ++ multi
    val n = vocab.values.sum
    def bits(x: Long) = java.lang.Long.toBinaryString(x).length
    val weight = vocab.map { case (p, s) =>
      p -> ((bits(n) - bits(s)).toLong * 1024 + 1) }
    val usage = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    for ((w, c) <- words) {
      val n0 = w.length
      val best = Array.fill[(Long, String)](n0 + 1)((Long.MaxValue, ""))
      best(0) = (0L, "")
      for {
        i <- 0 until n0
        if best(i)._1 != Long.MaxValue
        l <- 1 to math.min(maxPieceLen, n0 - i)
      } {
        val p = w.substring(i, i + l)
        weight.get(p).foreach { wt =>
          val cand = (best(i)._1 + wt, best(i)._2 + "" + p)
          if (cand._1 < best(i + l)._1 ||
              (cand._1 == best(i + l)._1 && cand._2 < best(i + l)._2))
            best(i + l) = cand
        }
      }
      best(n0)._2.split('').filter(_.nonEmpty)
        .foreach(p => usage(p) += c)
    }
    val keptChars = chars.keys.map(p => p -> usage(p))
    val keptMulti = usage.filter(_._1.length > 1).toSeq
      .sortBy { case (p, u) => (-u, p) }.take(vocabTarget)
    (keptChars.toSeq ++ keptMulti).sortBy(_._1)
  }

  test("unigram EM converged: loop ≡ unrolled, fixpoint detected, vocab shrinks") {
    import spark.implicits._
    val d = (Seq.fill(5)("banana band banana") ++
      Seq("apple banana apple", "nab nab banana band"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val p0: Seq[(String, Long)] = Seq(("ba", 7169L), ("na", 7169L),
      ("band", 9217L), ("app", 8193L), ("le", 7169L), ("zz", 5121L))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("piece").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // fixed-round loop ≡ manual unrolling of unigramEmStep
    val looped = rowsOf(Tokenizer.unigramEmConverged(d, p0,
      maxIters = 3, runToFixpoint = false))
    val m1 = rowsOf(Tokenizer.unigramEmStep(d, p0)).map(r => (r._1, r._3))
    val m2 = rowsOf(Tokenizer.unigramEmStep(d, m1)).map(r => (r._1, r._3))
    val unrolled = rowsOf(Tokenizer.unigramEmStep(d, m2))
    assert(looped == unrolled, "loop must equal the manual unroll")
    // convergence: the fixpoint model is stable under one more step,
    // and the loop reports it
    val (fix, rounds, converged) =
      Tokenizer.unigramEmConvergedWithStats(d, p0, maxIters = 10)
    assert(converged && rounds <= 10, s"rounds=$rounds converged=$converged")
    val fixModel = rowsOf(fix).map(r => (r._1, r._3))
    assert(rowsOf(Tokenizer.unigramEmStep(d, fixModel))
      .map(r => (r._1, r._3)) == fixModel,
      "the detected fixpoint must be stable under one more EM step")
    // the MULTI-CHAR vocab monotonically shrinks: unused pieces drop
    // and new multi-char pieces never appear (segmentation only uses
    // model pieces plus SINGLE-CHAR fallbacks, which may enter — char
    // coverage, the Kudo discipline); the unused seed 'zz' drops
    def multi(m: Seq[(String, Long)]) =
      m.map(_._1).filter(_.length > 1).toSet
    val v0 = multi(p0)
    val v1 = multi(m1)
    val v2 = multi(m2)
    assert(v1.subsetOf(v0) && v2.subsetOf(v1), s"$v0 -> $v1 -> $v2")
    assert(!v1.contains("zz"), "a never-used piece must drop in round 1")
    assert(m1.map(_._1).exists(_.length == 1),
      "char-fallback pieces enter the model with their usage")
    graft.operators.Dedup.unpersistAll()
  }

  test("unigram LM: planted corpus equals the driver replay; partition-invariant") {
    import spark.implicits._
    val texts = Seq.fill(6)("banana band banana") ++
      Seq("apple banana apple", "nab nab banana band")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Tokenizer.unigramLm(df, fitCap = 100, maxWordLen = 12,
          maxPieceLen = 4, seedCap = 50, vocabTarget = 20)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val got = run(d)
    val wcounts = texts.flatMap(_.toLowerCase.split("[ \t\n\f\r]+"))
      .filter(w => w.nonEmpty && w.length <= 12 && !w.contains(''))
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(100)
    assert(got == bruteUnigram(wcounts, 4, 50, 20))
    // the dominant repeat must be learned as a USED multi-char piece
    assert(got.exists { case (p, u) => p.length > 1 && u > 0 }, got.toString)
    assert(run(d.repartition(5)) == got,
      "the trainer must be partitioning-independent")
    graft.operators.Dedup.unpersistAll()
  }

  /** Driver replay of the u7 serving Viterbi: same edges (explicit
    * pieces + always-available char fallback, single-char entries take
    * the min), same (cost, path)-lexicographic tie-break, same long-word
    * char fallback as [[Tokenizer.unigramSegmentWord]] — but O(n²)
    * naive, recomputing pieces from scratch.
    */
  private def bruteViterbi(word: String, pieces: Map[String, Long],
      charCost: Long): Seq[String] = {
    val cps = word.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    if (cps.length > 12) return cps.toSeq
    val maxL = (pieces.keys.map(p => p.codePointCount(0, p.length)) ++ Seq(1)).max
    val INF = Long.MaxValue / 4
    def pieceCost(p: String): Long = {
      val e = pieces.getOrElse(p, INF)
      if (p.codePointCount(0, p.length) == 1) math.min(e, charCost) else e
    }
    val best = Array.fill[(Long, String)](cps.length + 1)((INF, ""))
    best(0) = (0L, "")
    for {
      i <- 0 until cps.length
      if best(i)._1 < INF
      l <- 1 to math.min(maxL, cps.length - i)
    } {
      val p = cps.slice(i, i + l).mkString
      val c = pieceCost(p)
      if (c < INF) {
        val cand = (best(i)._1 + c, best(i)._2 + "" + p)
        if (cand._1 < best(i + l)._1 ||
            (cand._1 == best(i + l)._1 && cand._2 < best(i + l)._2))
          best(i + l) = cand
      }
    }
    best(cps.length)._2.split('').filter(_.nonEmpty).toSeq
  }

  test("unigram serving: expression equals the naive driver Viterbi; fallbacks exact") {
    import spark.implicits._
    val pieces = Seq(("ab", 7169L), ("bc", 7169L), ("abc", 8193L),
      ("cd", 7169L), ("a", 5121L), ("xyzw", 9217L))
    val charCost = 6145L
    val pmap = pieces.toMap
    val words = Seq("abcd", "aabc", "abcabc", "q", "xyzwxyzw",
      "aaaa", "cdcd", "zzz", "abcdefghijklmn", "ab😀cd")
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        Tokenizer.unigramSegment(col("text"), pieces, charCost).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    words.zipWithIndex.foreach { case (w, i) =>
      assert(got(i.toLong) == bruteViterbi(w, pmap, charCost),
        s"word $w")
    }
    // hand-pinned cases: tie-break and fallback semantics
    //  - abcd: ab+cd (7169+7169=14338) beats abc+d (8193+6145) and a+bc+d
    assert(got(0L) == Seq("ab", "cd"))
    //  - the 14-char word falls back to one piece per character
    assert(got(8L) == "abcdefghijklmn".map(_.toString))
    //  - q is not an explicit piece: charCost fallback still covers it
    assert(got(3L) == Seq("q"))
    //  - the non-BMP emoji is ONE symbol at charCost, never a surrogate
    assert(got(9L) == Seq("ab", "😀", "cd"))
    //  - multi-word doc: segmentation concatenates per-word results
    val multi = Seq((0L, "abcd  q\txyzwxyzw")).toDF("doc_id", "text")
      .select(Tokenizer.unigramSegment(col("text"), pieces, charCost))
      .head.getSeq[String](0)
    assert(multi == Seq("ab", "cd", "q", "xyzw", "xyzw"))
  }

  test("unigram EM step: usage is the Viterbi count, costs are exact bit shares") {
    import spark.implicits._
    // abc → ab+c (1+10=11 beats a+b+c=30); ab → ab; c → c.
    // usage: ab = 2, c = 2; zz never used → DROPPED (the EM prune)
    val pieces = Seq(("ab", 1L), ("a", 10L), ("b", 10L), ("c", 10L),
      ("zz", 5L))
    val docs = Seq((1L, "abc ab c")).toDF("doc_id", "text")
    val got = Tokenizer.unigramEmStep(docs, pieces, charCost = 6145L)
      .orderBy("piece").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // N = 4 → bits = 3; n_uses = 2 → bits = 2; cost = (3−2)·1024+1
    assert(got == Seq(("ab", 2L, 1025L), ("c", 2L, 1025L)))
  }

  test("unigram EM step: iterating stays total and within the used vocabulary") {
    val dir = TestSpark.sf
    val docs = Tables.load(spark, dir, "documents")
    val step1 = Tokenizer.unigramEmStep(docs,
        graft.queries.Pipeline.UnigramPieces,
        graft.queries.Pipeline.UnigramCharCost)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(step1.nonEmpty)
    // M-step monotone: more-used pieces never cost more
    val byUse = step1.sortBy(-_._2)
    byUse.sliding(2).foreach {
      case Array((_, u1, c1), (_, u2, c2)) =>
        assert(u1 >= u2 && c1 <= c2, "cost must be antitone in usage")
      case _ =>
    }
    // feeding the output back in is a valid model: the next E-step is
    // total, and its usage stays within step-1 pieces ∪ char fallback
    val model2 = step1.map(t => (t._1, t._3)).toSeq
    val step2 = Tokenizer.unigramEmStep(docs, model2,
        graft.queries.Pipeline.UnigramCharCost)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(step2.nonEmpty)
    val vocab1 = step1.map(_._1).toSet
    step2.foreach { case (p, _) =>
      assert(vocab1.contains(p) || p.codePointCount(0, p.length) == 1,
        s"step-2 piece $p must be a step-1 piece or a char fallback")
    }
  }

  test("unigram serving: count is cost mod 1024 (tie-invariant) on random words") {
    val pieces = Pipeline.UnigramPieces
    val pmap = pieces.toMap
    val rnd = new scala.util.Random(7)
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    (1 to 300).foreach { _ =>
      val w = (1 to (1 + rnd.nextInt(12)))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val segs = bruteViterbi(w, pmap, Pipeline.UnigramCharCost)
      val cost = segs.map(p => {
        val e = pmap.getOrElse(p, Long.MaxValue / 4)
        if (p.length == 1) math.min(e, Pipeline.UnigramCharCost) else e
      }).sum
      assert(segs.nonEmpty && cost % 1024 == segs.length,
        s"count-in-cost invariant broke for $w: $segs")
    }
  }
}
