package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property + unit tests for the text primitives (SURVEY.md §5.3).
  * (scalacheck drives generation directly — scalatestplus isn't in the
  * offline cache.) */
class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String) = Seq(Tuple1(text)).toDF("text")

  test("tokens drops empties from repeated whitespace") {
    val t = one("a  b\t c\n\nd ").select(TextFunctions.tokens($"text"))
      .head().getSeq[String](0)
    assert(t === Seq("a", "b", "c", "d"))
  }

  test("shingles: k-grams in order; short docs degrade to whole text") {
    val s = one("a b c d").select(TextFunctions.shingles($"text", 3))
      .head().getSeq[String](0)
    assert(s === Seq("a b c", "b c d"))
    val short = one("a b").select(TextFunctions.shingles($"text", 3))
      .head().getSeq[String](0)
    assert(short === Seq("a b"))
  }

  test("fingerprint is order-sensitive") {
    val fp = Seq(Tuple1("alpha beta gamma"), Tuple1("gamma beta alpha"))
      .toDF("text").select(TextFunctions.fingerprint($"text")).as[Long].collect()
    assert(fp(0) !== fp(1))
  }

  test("fingerprintMd5 is order-sensitive, bounded by P, and empty-safe") {
    val fp = Seq(Tuple1("alpha beta gamma"), Tuple1("gamma beta alpha"),
      Tuple1("")).toDF("text")
      .select(TextFunctions.fingerprintMd5($"text")).as[Long].collect()
    assert(fp(0) !== fp(1))
    fp.foreach(v => assert(v >= 0L && v < TextFunctions.MinHashP,
      s"fingerprint $v escapes [0, P)"))
    // the md5-rolling fold must match a by-hand replay of its definition
    // (this is exactly what the DuckDB oracle recomputes)
    val hs = Seq("alpha", "beta", "gamma").map { t =>
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5").digest(t.getBytes)
          .take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    val expected = hs.foldLeft(0L)((acc, h) =>
      (acc * 31L + h) % TextFunctions.MinHashP)
    assert(fp(0) === expected)
  }

  test("quality score in [0,1]; empty text well-defined") {
    val q = Seq(Tuple1(""), Tuple1("the cat sat on the mat"),
      Tuple1("a " * 200)).toDF("text")
      .select(TextFunctions.qualityScore($"text")).as[Double].collect()
    q.foreach(v => assert(v >= 0.0 && v <= 1.0, s"quality $v out of range"))
  }

  test("language id picks stopword-matching language; CJK detected by script") {
    val got = Seq(
      Tuple1("the cat and the dog in the house"),
      Tuple1("le chat et la maison des amis est grande"),
      Tuple1("el perro y la casa de los amigos es grande"),
      Tuple1("der hund und die katze ist nicht mit zu hause"),
      Tuple1("中文文本处理测试")
    ).toDF("text").select(TextFunctions.languageId($"text")).as[String].collect()
    assert(got === Array("en", "fr", "es", "de", "zh"))
  }

  test("token count property: n tokens of single-space-joined words") {
    val gen = Gen.listOfN(20, Gen.alphaStr.suchThat(_.nonEmpty))
    val samples = (1 to 20).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)))
    val df = samples.map(ws => Tuple1(ws.mkString(" "))).toDF("text")
    val ns = df.select(size(TextFunctions.tokens($"text"))).as[Int].collect()
    ns.zip(samples).foreach { case (n, ws) => assert(n === ws.size) }
  }

  test("simhash64 codegen and interpreted paths agree") {
    val hashes = Array(0x1234L, -0x9876L, 0xdeadbeefL)
    val viaEval = SimHash64.eval(hashes)
    val viaExpr = Seq(Tuple1(hashes)).toDF("h")
      .select(SimHash64.simhash64($"h")).as[Long].head()
    assert(viaEval === viaExpr)
  }
}
