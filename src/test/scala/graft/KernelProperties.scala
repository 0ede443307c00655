package graft

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.{KmvBuffer, TextHashing}

/** ScalaCheck properties for the imperative kernels behind the graft
  * expressions (SURVEY §5's property-test layer). These run at the JVM
  * level — no SparkSession — so they cover thousands of random inputs per
  * run; the Spark-level differential specs (PipelineSpec) pin the same
  * kernels against the composable column forms on real data.
  */
object KernelProperties extends Properties("graft.kernels") {

  // ---- sorted-merge intersection ----------------------------------------

  private val longSet: Gen[Array[Long]] =
    Gen.listOf(Gen.chooseNum(-50L, 50L)).map(_.distinct.sorted.toArray)

  property("intersectSize == set intersection size") =
    forAll(longSet, longSet) { (a, b) =>
      val got = TextHashing.intersectSize(new GenericArrayData(a), new GenericArrayData(b))
      got == a.toSet.intersect(b.toSet).size
    }

  // ---- minhash -----------------------------------------------------------

  private val hashes: Gen[Array[Long]] =
    Gen.nonEmptyListOf(Gen.long).map(_.distinct.toArray)

  property("minhash element i = min over per-seed hashes") =
    forAll(hashes, Gen.chooseNum(1, 16)) { (hs, k) =>
      val sig = TextHashing.minhash(new GenericArrayData(hs), k)
      (0 until k).forall { i =>
        sig.getLong(i) == hs.map(h => XXH64.hashLong(h, i.toLong)).min
      }
    }

  property("minhash of empty set = Long.MaxValue everywhere") =
    forAll(Gen.chooseNum(1, 8)) { k =>
      val sig = TextHashing.minhash(new GenericArrayData(Array.empty[Long]), k)
      (0 until k).forall(i => sig.getLong(i) == Long.MaxValue)
    }

  // ---- KMV sketch --------------------------------------------------------

  private val values: Gen[List[Long]] = Gen.listOf(Gen.chooseNum(0L, 5000L))

  property("kmv: split-merge equals single-pass (any partitioning)") =
    forAll(values, Gen.chooseNum(2, 64), Gen.chooseNum(0, 100)) { (vs, k, cut) =>
      def fill(xs: Seq[Long]): KmvBuffer = {
        val b = new KmvBuffer(k)
        xs.foreach(v => b.add(XXH64.hashLong(v, 42L) ^ Long.MinValue))
        b
      }
      val single = fill(vs)
      val at = if (vs.isEmpty) 0 else cut % (vs.size + 1)
      val (l, r) = vs.splitAt(at)
      val merged = fill(l)
      merged.merge(fill(r))
      merged.estimate == single.estimate
    }

  property("kmv: exact when distinct count < k") =
    forAll(values, Gen.chooseNum(2, 64)) { (vs, k) =>
      val distinct = vs.distinct
      (distinct.size >= k) || {
        val b = new KmvBuffer(k)
        vs.foreach(v => b.add(XXH64.hashLong(v, 42L) ^ Long.MinValue))
        b.estimate == distinct.size.toLong
      }
    }

  // ---- KMV set algebra ---------------------------------------------------

  private def kmvSetOp(a: Seq[Long], b: Seq[Long], k: Int, intersect: Boolean): Long = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    def state(xs: Seq[Long]): Array[Byte] = {
      val buf = new KmvBuffer(k)
      xs.foreach(v => buf.add(XXH64.hashLong(v, 42L) ^ Long.MinValue))
      graft.functions.KmvCodec.write(buf)
    }
    graft.functions.KmvSetEstimate(
      Literal(state(a), BinaryType), Literal(state(b), BinaryType), intersect)
      .eval(null).asInstanceOf[Long]
  }

  property("kmv set ops: exact union and intersection below capacity") =
    forAll(values, values, Gen.chooseNum(2, 64)) { (as, bs, k) =>
      val (sa, sb) = (as.toSet, bs.toSet)
      (sa.union(sb).size >= k) || {
        kmvSetOp(as, bs, k, intersect = false) == sa.union(sb).size.toLong &&
        kmvSetOp(as, bs, k, intersect = true) == sa.intersect(sb).size.toLong
      }
    }

  property("kmv set ops: symmetric at any size") =
    forAll(values, values, Gen.chooseNum(2, 16)) { (as, bs, k) =>
      kmvSetOp(as, bs, k, intersect = false) == kmvSetOp(bs, as, k, intersect = false) &&
      kmvSetOp(as, bs, k, intersect = true) == kmvSetOp(bs, as, k, intersect = true)
    }

  property("kmv set ops: estimates bounded beyond capacity") = {
    // deterministic overlap structure far past k: A = [0, 3000),
    // B = [1500, 4500) ⇒ union 4500, intersection 1500, at k=256 the
    // ~1/√k (≈6%) estimator must land within a generous 4σ band
    val a = 0L until 3000L
    val b = 1500L until 4500L
    val u = kmvSetOp(a, b, 256, intersect = false)
    val i = kmvSetOp(a, b, 256, intersect = true)
    Prop(math.abs(u - 4500) <= 1100 && math.abs(i - 1500) <= 600) :| s"u=$u i=$i"
  }

  // ---- tokenizer-derived kernels vs straightforward reference impls ------

  private val word: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('ä', '中', '!', '.')))
      .map(_.mkString)
  private val ws: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(' ', '\t', '\n', '\u000B', '\f', '\r'))
      .map(_.mkString)
  private val text: Gen[String] = for {
    words <- Gen.listOf(word)
    seps <- Gen.listOfN(words.size + 1, ws)
    lead <- Gen.oneOf("", " ")
  } yield lead + words.zip(seps).map { case (w, s) => w + s }.mkString

  // reference tokenizer mirrors the kernel's documented spec exactly:
  // RE2 \s whitespace class (NO \u000B -- matches the DuckDB oracles
  // and TextHashing.isSpace) and locale-independent
  // lowercasing (String.toLowerCase is locale-sensitive: tr_TR turns
  // 'I' into dotless ı where UTF8String.toLowerCase gives 'i')
  private def refTokens(s: String): Array[String] =
    s.toLowerCase(java.util.Locale.ROOT).split("[ \t\n\f\r]+").filter(_.nonEmpty)

  private def refHash(s: String): Long = {
    val b = UTF8String.fromString(s).getBytes
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  property("shingleHashes = sorted distinct hashes of n-token windows") =
    forAll(text, Gen.chooseNum(1, 4)) { (s, n) =>
      val got = {
        val a = TextHashing.shingleHashes(UTF8String.fromString(s), n)
        (0 until a.numElements()).map(a.getLong).toSeq
      }
      val want = refTokens(s).sliding(n).filter(_.size == n)
        .map(w => refHash(w.mkString(" "))).toSeq.distinct.sorted
      Prop(got == want) :| s"got=$got want=$want"
    }

  property("simhash = per-bit majority vote of token hashes") =
    forAll(text) { s =>
      val toks = refTokens(s)
      var want = 0L
      (0 until 64).foreach { b =>
        val votes = toks.map(t => if (((refHash(t) >>> b) & 1L) == 1L) 1 else -1).sum
        if (votes > 0) want |= (1L << b)
      }
      TextHashing.simhash(UTF8String.fromString(s)) == want
    }

  property("normText = tokens joined by single spaces") =
    forAll(text) { s =>
      TextHashing.normText(UTF8String.fromString(s)).toString ==
        refTokens(s).mkString(" ")
    }

  // ---- statement splitting (engine scanner) ------------------------------

  /** Statement bodies that cannot themselves contain a top-level `;`:
    * word runs, single- and double-quoted strings with embedded
    * semicolons/escapes/comment markers, backtick identifiers, and (nested)
    * comments.
    */
  private val stmtAtom: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.suchThat(_.nonEmpty).map("select " + _),
    Gen.const("select 'a;b'"),
    Gen.const("select 'don\\'t; stop'"),
    Gen.const("select 'it''s; fine'"),
    Gen.const("select 1 as `a;b`"),
    Gen.const("select 1 -- trailing; comment\nfrom t"),
    Gen.const("select /* block; comment */ 2"),
    Gen.const("select \"a;b\""),
    Gen.const("select \"--\" as s"),
    Gen.const("select /* a /* nested; */ b; */ 1"))

  property("splitStatements recovers the statements joined with ';'") =
    forAll(Gen.nonEmptyListOf(stmtAtom)) { stmts =>
      val engine = new graft.engine.GraftEngine(null)
      val joined = stmts.mkString("; ") + ";"
      engine.splitStatements(joined) == stmts.map(_.trim)
    }

  // ---- repetition signals (graft_rep_stats kernel) -----------------------

  /** Documents from a tiny vocabulary so repeats/bigram-dups actually occur;
    * includes empty tokens (double spaces) to pin split-keeps-empties.
    */
  private val repDoc: Gen[String] =
    Gen.listOf(Gen.oneOf("a", "b", "c", "ab", "")).map(_.mkString(" "))

  property("repetitionStats == multiset recompute over split-keep-empties") =
    forAll(repDoc) { text =>
      val row = TextHashing.repetitionStats(UTF8String.fromString(text))
      val toks = text.split(" ", -1)
      val n = toks.length
      val top = toks.groupBy(identity).valuesIterator.map(_.length).max
      val okTok = row.getLong(0) == n.toLong &&
        row.getDouble(1) == top.toDouble / n
      val bigrams = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val okBig =
        if (bigrams.isEmpty) row.isNullAt(2) && row.isNullAt(3)
        else {
          val bc = bigrams.groupBy(identity).map { case (_, v) => v.length }
          row.getDouble(2) == (bigrams.size - bc.size).toDouble / bigrams.size &&
            row.getDouble(3) == bc.max.toDouble / bigrams.size
        }
      okTok && okBig
    }
}
