package graft

import graft.functions.TextHashKernels
import java.security.MessageDigest
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}

/** Pure-JVM properties of the text-hash kernels over random text salted
  * with unicode (CJK, emoji, combining marks, the 'İ'/'K' full-casing
  * traps, Greek sigma, VT/FF): each kernel is checked against an
  * independent hex-string reference implementation (the kernels use
  * direct byte/nibble arithmetic for the md5 prefixes — the references
  * parse the hex digest text, the same recipe the DuckDB oracles
  * execute; the references also case-fold and slice at the UTF-16 level
  * where the kernels walk UTF-8 bytes), so a shared bug in the fast path
  * cannot self-confirm. Every kernel reads its text as a slice of a
  * larger, letter-padded buffer ([[inPlace]]) — the row-backed form Spark
  * hands it — so a read outside the slice shows up as extra tokens. No
  * SparkSession needed. */
object TextHashPropertySpec extends Properties("TextHashKernels") {

  // unicode salt: multi-byte delimiters of every UTF-8 width (2–4 bytes,
  // incl. a surrogate-pair emoji), the two full-casing traps ('İ' U+0130,
  // Kelvin 'K' U+212A — must DELIMIT under the ASCII case fold, never
  // lowercase into [a-z]), Greek sigma (context-sensitive in full casing),
  // combining/zero-width marks, and VT/FF whitespace edges
  private val genText: Gen[String] =
    Gen.chooseNum(0, 300).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        6 -> Gen.alphaChar.map(_.toString),
        2 -> Gen.const(" "),
        1 -> Gen.numChar.map(_.toString),
        1 -> Gen.oneOf('.', ',', '!', '-', '\'', '"', '\n', '\t')
          .map(_.toString),
        2 -> Gen.oneOf("\u0130", "\u0131", "\u212a", "\u00e9",
          "\u65e5", "\u8a9e", "\u03a3", "\u03c3", "\u03c2",
          "\ud83c\udf89", "\u0301", "\u200b", "\u000b", "\u000c",
          "\ufb01")))
        .map(_.mkString))

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** The contract's case fold, independently: A–Z only. */
  private def refLower(s: String): String =
    s.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)

  private def refTokens(s: String): List[String] =
    refLower(s).split("[^a-z]+").filter(_.nonEmpty).toList

  private def refShingles(s: String): List[String] = {
    val w = refTokens(s)
    w.lazyZip(w.drop(1)).lazyZip(w.drop(2))
      .map((a, b, c) => s"$a $b $c").toList.distinct
  }

  /** `s` as bytes [2, 2 + len) of a buffer padded with letters on both
    * sides. */
  private def inPlace(s: String): UTF8String = {
    val b = s.getBytes("UTF-8")
    val padded = "xq".getBytes("UTF-8") ++ b ++ "qx".getBytes("UTF-8")
    UTF8String.fromBytes(padded, 2, b.length)
  }

  private def longs(a: ArrayData): List[Long] = a.toLongArray().toList
  private def strings(a: ArrayData): List[String] =
    (0 until a.numElements()).map(a.getUTF8String(_).toString).toList
  private def entries(m: MapData): List[(String, Long)] =
    strings(m.keyArray()).zip(m.valueArray().toLongArray())

  /** Distinct values with their counts, in first-occurrence order. */
  private def firstOccurrenceCounts(xs: List[String]): List[(String, Long)] =
    xs.distinct.map(x => x -> xs.count(_ == x).toLong)

  private def refBigrams(s: String): List[String] = {
    val toks = refTokens(s)
    toks.zip(toks.drop(1)).map { case (a, b) => a + " " + b }
  }

  property("shingles == regex-tokenized distinct triples") =
    Prop.forAll(genText) { s =>
      strings(TextHashKernels.shingles(inPlace(s))) ==
        refShingles(s)
    }

  property("shingleHashes == hex-parsed md5 prefixes of shingles") =
    Prop.forAll(genText) { s =>
      longs(TextHashKernels.shingleHashes(inPlace(s))) ==
        refShingles(s)
          .map(sh => java.lang.Long.parseLong(md5hex(sh).take(15), 16))
          .distinct
    }

  property("gramHashes == hex-parsed md5 prefixes of positional grams") =
    Prop.forAll(genText) { s =>
      def refGrams(k: Int): List[Long] = {
        val w = refTokens(s)
        if (w.size < k) Nil
        else w.sliding(k).map(g =>
          java.lang.Long.parseLong(md5hex(g.mkString(" ")).take(15), 16))
          .toList
      }
      List(1, 3, 8).forall { k =>
        longs(TextHashKernels.gramHashes(inPlace(s), k)) ==
          refGrams(k)
      }
    }

  property("simhash == hex-parsed per-bit majority vote") =
    Prop.forAll(genText) { s =>
      val toks = refTokens(s)
      val expected: Option[Long] =
        if (toks.isEmpty) None
        else {
          val hs = toks.map(w =>
            java.lang.Long.parseLong(md5hex("99|" + w).take(15), 16))
          Some((0 until 60).map { j =>
            val votes = hs.map(h => if (((h >> j) & 1L) == 1L) 1 else -1).sum
            if (votes > 0) 1L << j else 0L
          }.sum)
        }
      Option(TextHashKernels.simhash(inPlace(s)))
        .map(_.longValue()) == expected
    }

  property("minhashSig == hex-parsed linear-family minima") =
    Prop.forAll(genText) { s =>
      val sh = refShingles(s)
      val expected: Option[List[Long]] =
        if (sh.isEmpty) None
        else Some((0 until 16).map { p =>
          sh.map { x =>
            val hex = md5hex(x)
            val h1 = java.lang.Long.parseLong(hex.take(15), 16)
            val h2 = java.lang.Long.parseLong(hex.slice(15, 23), 16)
            h1 + p * h2
          }.min
        }.toList)
      val arr = TextHashKernels.minhashSig(
        TextHashKernels.shingles(inPlace(s))
          .asInstanceOf[ArrayData], 16)
      Option(arr).map(longs) == expected
    }

  property("winnow == hex-parsed 8-CODEPOINT-gram window-of-4 minima") =
    Prop.forAll(genText) { s =>
      // reference grams are codepoint slices rebuilt as strings (UTF-16
      // walk) — independent of the kernel's UTF-8 start-byte ring walk
      val cps = refLower(s).codePoints().toArray
      val hs = (0 to cps.length - 8)
        .map(i => java.lang.Long.parseLong(
          md5hex(new String(cps, i, 8)).take(8), 16))
      val expected = (0 to hs.length - 4)
        .map(i => hs.slice(i, i + 4).min).distinct.toList
      longs(TextHashKernels.winnow(inPlace(s))) == expected
    }

  property("termCounts == regex-tokenized frequency map") =
    Prop.forAll(genText) { s =>
      entries(TextHashKernels.termCounts(inPlace(s))) ==
        firstOccurrenceCounts(refTokens(s))
    }

  property("bigramCounts == regex-tokenized bigram frequency map") =
    Prop.forAll(genText) { s =>
      entries(TextHashKernels.bigramCounts(inPlace(s))) ==
        firstOccurrenceCounts(refBigrams(s))
    }

  property("topBigram == (max cnt, then max bigram) over the frequency map") =
    Prop.forAll(genText) { s =>
      val r = TextHashKernels.topBigram(inPlace(s))
      val freq = firstOccurrenceCounts(refBigrams(s))
      if (freq.isEmpty) r == null
      else {
        val (bg, c) = freq.maxBy { case (k, v) => (v, k) }
        r != null && r.getUTF8String(0).toString == bg && r.getLong(1) == c
      }
    }

  property("TermTable over many documents == their summed frequency maps, " +
    "keys owned by the table") =
    Prop.forAll(Gen.listOf(genText)) { docs =>
      val table = new TextHashKernels.TermTable
      val inputs = docs.map(inPlace)
      inputs.foreach(table.add)
      // the table copied its keys: wiping every source buffer changes none
      inputs.foreach(u => java.util.Arrays.fill(
        u.getBaseObject.asInstanceOf[Array[Byte]], 'z'.toByte))
      val got = (0 until table.size).toList
        .map(e => table.key(e).toString -> table.count(e))
      !table.pending && !table.full &&
        got == firstOccurrenceCounts(docs.flatMap(refTokens))
    }

  /** Every kernel's result on `u`, each read back on demand. */
  private def results(u: UTF8String): List[() => Any] = {
    val sh = TextHashKernels.shingles(u)
    val shh = TextHashKernels.shingleHashes(u)
    val gh = TextHashKernels.gramHashes(u, 2)
    val sim = TextHashKernels.simhash(u)
    val simw = TextHashKernels.simhashWide(u, 2)
    val tc = TextHashKernels.termCounts(u)
    val bc = TextHashKernels.bigramCounts(u)
    val tb = TextHashKernels.topBigram(u)
    val w = TextHashKernels.winnow(u)
    List(() => strings(sh), () => longs(shh), () => longs(gh), () => sim,
      () => Option(simw).map(longs), () => entries(tc), () => entries(bc),
      () => Option(tb).map(r => r.getUTF8String(0).toString -> r.getLong(1)),
      () => longs(w))
  }

  property("results outlive later calls; inputs are never written") =
    Prop.forAll(genText, genText) { (a, b) =>
      val ua = inPlace(a)
      val ub = inPlace(b)
      val bytesA = ua.getBaseObject.asInstanceOf[Array[Byte]].clone()
      val bytesB = ub.getBaseObject.asInstanceOf[Array[Byte]].clone()
      val ra = results(ua)
      val before = ra.map(_())
      results(ub).foreach(_())
      ra.map(_()) == before &&
        java.util.Arrays.equals(bytesA,
          ua.getBaseObject.asInstanceOf[Array[Byte]]) &&
        java.util.Arrays.equals(bytesB,
          ub.getBaseObject.asInstanceOf[Array[Byte]])
    }
}
