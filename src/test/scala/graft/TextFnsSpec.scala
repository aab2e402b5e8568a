package graft

import org.apache.spark.sql.catalyst.expressions.Conv
import org.apache.spark.sql.functions._
import graft.functions.TextFns._

class TextFnsSpec extends SparkSpec {

  private def one(c: org.apache.spark.sql.Column): Any = {
    import spark.implicits._
    Seq(Tuple1("x")).toDF("ignore").select(c).collect().head.get(0)
  }

  test("fpSum stays exact past the BIGINT sum boundary (the 4e9-member corpus case)") {
    // the membership-fingerprint contract: equal multisets ⇔ equal
    // fingerprints, at ANY group size. h32 values are < 2^32, so a
    // BIGINT sum wraps silently once a group holds ~4×10⁹ members (the
    // 'train' split of a large corpus) — DuckDB sums into HUGEINT and
    // stays exact, so the engines would diverge exactly at scale.
    // Simulate the boundary with few LARGE addends instead of 4e9 rows:
    // the arithmetic path (sum then one % P) is identical.
    import spark.implicits._
    val big = (1 to 40).map(i => (1L << 58) + i) // Σ > 2^63: long wraps
    val df = big.toDF("h")
    val viaFpSum = df.select(fpSum(col("h"))).head().getLong(0)
    val expected = (big.map(BigInt(_)).sum mod BigInt(P)).toLong
    assert(viaFpSum == expected, s"fpSum $viaFpSum != exact $expected")
    // the pre-round-13 idiom demonstrably diverges past the boundary
    // (try_sum instead of sum: ANSI mode makes the raw overflow THROW —
    // either behavior, error or wrap, breaks oracle parity)
    val wrapped = df.select(
      (expr("try_sum(h)") % P).as("fp")).head()
    assert(wrapped.isNullAt(0) || wrapped.getLong(0) != expected,
      "bigint sum unexpectedly survived the boundary — boundary too low?")
    // order/partitioning independence: the decimal sum is commutative
    val shuffled = scala.util.Random.shuffle(big).toDF("h").repartition(7)
    assert(shuffled.select(fpSum(col("h"))).head().getLong(0) == expected)
  }

  test("h32 matches the first 8 md5 hex chars as an unsigned value") {
    // md5("hello") = 5d41402abc4b2a76b9719d911017c592 -> 0x5d41402a
    assert(one(h32(lit("hello"))) == 0x5d41402aL)
    // high-bit values stay positive (unsigned 32-bit in a long)
    val v = one(h32(lit("spark"))).asInstanceOf[Long]
    assert(v >= 0L && v <= 0xffffffffL)
  }

  test("tokens drops empties; shingles guard small inputs") {
    assert(one(tokens(lit("a  b   c"))) ==
      scala.collection.mutable.ArraySeq.make(Array("a", "b", "c")))
    assert(one(size(shingles(tokens(lit("a b")), 3))) == 0) // < n tokens
    assert(one(size(shingles(tokens(lit("a b c")), 3))) == 1)
    assert(one(element_at(shingles(tokens(lit("a b c d")), 3), 1)) == "a b c")
    assert(one(size(shingles(tokens(lit("")), 3))) == 0)
  }

  test("shingle_h32 kernel is element-identical to the declarative chain") {
    // corpus texts: every (doc, n) pair must match transform(shingles(tokens))
    for (n <- Seq(2, 3, 8)) {
      val mismatches = graft.sources.Tables.documents(spark, sf)
        .select(col("doc_id"),
          shingleH32(col("text"), n).as("kern"),
          transform(shingles(tokens(col("text")), n), s => h32(s)).as("decl"))
        .filter(not(col("kern") <=> col("decl")))
        .count()
      assert(mismatches == 0, s"n=$n: kernel diverges from declarative chain")
    }
    // edge cases: consecutive/leading/trailing spaces, short and empty text
    for (txt <- Seq("a  b   c d", "  a b ", "a b", "", "   ", "one")) {
      val r = one(struct(shingleH32(lit(txt), 3).as("k"),
        transform(shingles(tokens(lit(txt)), 3), s => h32(s)).as("d")))
        .asInstanceOf[org.apache.spark.sql.Row]
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"text '$txt' diverged")
    }
  }

  test("rollingFp: empty -> 0, order-sensitive, stays within the modulus") {
    assert(one(rollingFp(array().cast("array<string>"))) == 0L)
    val ab = one(rollingFp(array(lit("a"), lit("b")))).asInstanceOf[Long]
    val ba = one(rollingFp(array(lit("b"), lit("a")))).asInstanceOf[Long]
    assert(ab != ba)
    assert(ab >= 0L && ab < P)
    // single element: fp == h32 % P (fold from 0)
    assert(one(rollingFp(array(lit("a")))) ==
      one(h32(lit("a"))).asInstanceOf[Long] % P)
  }

  test("native ws_tokens kernel matches the declarative split+filter") {
    val decl = filter(split(col("text"), " "), t => length(t) > lit(0))
    val df = graft.sources.Tables.documents(spark, sf)
      .withColumn("native", tokens(col("text")))
      .withColumn("decl", decl)
    assert(df.filter(col("native") =!= col("decl")).count() == 0)
    assert(df.count() > 0)
    // edge shapes: leading/trailing/multiple spaces, empty string
    val edges = Seq("", " ", "  a  b ", "a", " x").map(lit)
    edges.foreach { s =>
      val r = spark.range(1)
        .select(tokens(s).as("n"),
          filter(split(s, " "), t => length(t) > lit(0)).as("d"))
        .head()
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"diverged on $s")
    }
  }

  test("native rolling_fp kernel matches the declarative fold on the fixture") {
    val toks = tokens(col("text"))
    val decl = aggregate(transform(array_sort(array_distinct(toks)), h32 _),
      lit(0L), (acc, h) => (acc * 131L + h) % P)
    val df = graft.sources.Tables.documents(spark, sf)
      .withColumn("native", rollingFp(array_sort(array_distinct(toks))))
      .withColumn("decl", decl)
    assert(df.filter(col("native") =!= col("decl")).count() == 0)
    assert(df.count() > 0)
    // null contract: a null element nulls the fingerprint
    val r = spark.range(1)
      .select(rollingFp(array(lit("a"), lit(null).cast("string"))).as("fp"))
      .head()
    assert(r.isNullAt(0))
  }

  test("native h32 kernel is bit-identical to the declarative md5 chain") {
    // suspend the RewriteMd5H32 optimizer rule for this test: it would
    // rewrite the declarative side to the kernel too, making the
    // comparison a tautology instead of an equivalence proof
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ == graft.plans.RewriteMd5H32)
    try {
      val chain = conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long")
      val df = graft.sources.Tables.documents(spark, sf)
        .select(explode(tokens(col("text"))).as("s"))
        .withColumn("native", h32(col("s")))
        .withColumn("decl", chain)
      assert(PlanShape.of(df).hasExpr[Conv],
        "declarative side was rewritten; comparison would be vacuous")
      assert(df.filter(col("native") =!= col("decl")).count() == 0)
      assert(df.count() > 0)
    } finally spark.experimental.extraOptimizations = saved
  }

  test("ngram_stats kernel matches the declarative hashed-shingle form") {
    import org.apache.spark.sql.functions.call_function
    val df = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .withColumn("k", call_function("ngram_stats", col("toks"), lit(3)))
      .withColumn("hs", transform(shingles(col("toks"), 3), s => h32(s)))
      .select(
        col("k.top").as("ktop"), col("k.total").as("ktotal"), col("k.uniq").as("kuniq"),
        aggregate(array_sort(col("hs")),
          struct(lit(-1L).as("prev"), lit(0L).as("run"), lit(0L).as("best")),
          (acc, x) => {
            val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
              .otherwise(lit(1L))
            struct(x.as("prev"), run.as("run"),
              greatest(acc.getField("best"), run).as("best"))
          }, acc => acc.getField("best")).as("dtop"),
        size(col("hs")).cast("long").as("dtotal"),
        size(array_distinct(col("hs"))).cast("long").as("duniq"))
    assert(df.filter(col("ktop") =!= col("dtop") ||
      col("ktotal") =!= col("dtotal") || col("kuniq") =!= col("duniq")).count() == 0)
    assert(df.count() > 0)
  }

  test("ngram_stats nulls the result for arrays with null tokens") {
    import org.apache.spark.sql.functions.call_function
    import spark.implicits._
    val df = Seq(
      (1, Seq(Some("a"), None, Some("b"))),
      (2, Seq(Some("a"), Some("b"), Some("c")))).toDF("id", "toks")
      .withColumn("k", call_function("ngram_stats", col("toks"), lit(2)))
      .orderBy(col("id"))
    val rows = df.select(col("k")).collect()
    assert(rows(0).isNullAt(0))   // null token -> null struct, not a skip
    assert(!rows(1).isNullAt(0))
  }

  test("ngram_stats degenerate inputs") {
    import org.apache.spark.sql.functions.call_function
    import spark.implicits._
    val df = Seq(Seq("a"), Seq("a", "a", "a", "b")).toDF("toks")
      .withColumn("k", call_function("ngram_stats", col("toks"), lit(2)))
      .select(col("k.top"), col("k.total"), col("k.uniq"))
      .orderBy(col("k.total"))
    val rows = df.collect()
    assert(rows(0).getLong(0) == 0 && rows(0).getLong(1) == 0) // < n tokens
    assert(rows(1).getLong(0) == 2 && rows(1).getLong(1) == 3 &&
      rows(1).getLong(2) == 2) // "a a","a a","a b"
  }

  test("native nfc_normalize composes combining marks; NFC text passes through") {
    import org.apache.spark.sql.functions.{call_function, length => slen}
    import spark.implicits._
    // escapes, not literal glyphs: decomposed and precomposed forms render
    // identically, so only codepoint escapes keep this test unambiguous
    val decomposedCafe = "cafe\u0301" // e + COMBINING ACUTE, 5 codepoints
    val precomposedCafe = "caf\u00e9" // 4 codepoints
    val decomposedRing = "A\u030a" // A + COMBINING RING, 2 codepoints
    val df = Seq(decomposedCafe, decomposedRing, "plain ascii", precomposedCafe)
      .toDF("s")
      .withColumn("n", call_function("nfc_normalize", col("s")))
      .withColumn("l0", slen(col("s"))).withColumn("l1", slen(col("n")))
    val rows = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))).toSeq
    assert(rows(0)._2 == precomposedCafe && rows(0)._3 == 5 && rows(0)._4 == 4)
    assert(rows(1)._2 == "\u00c5" && rows(1)._4 == 1)
    // already-NFC text is returned unchanged (the fast path)
    assert(rows(2)._2 == "plain ascii" && rows(3)._2 == precomposedCafe)
    // idempotence: nfc(nfc(x)) == nfc(x)
    val twice = df.withColumn("n2", call_function("nfc_normalize", col("n")))
      .filter(col("n2") =!= col("n")).count()
    assert(twice == 0)
    // interpreted eval agrees with the codegen path
    import org.apache.spark.unsafe.types.UTF8String
    assert(graft.functions.NfcNormalize
      .nfc(UTF8String.fromString(decomposedCafe)).toString == precomposedCafe)
  }
}
