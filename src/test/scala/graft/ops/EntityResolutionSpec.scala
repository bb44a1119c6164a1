package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.functions.StringSim
import graft.functions.StringSimFunctions.jaro_winkler

/** Jaro-Winkler bit-exactness (goldens are DuckDB
  * `jaro_winkler_similarity` outputs, printed at 15 digits) and the
  * blocked fuzzy-join / best-match operators.
  */
class EntityResolutionSpec extends SparkSpec {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    StringSim.jaroWinkler(UTF8String.fromString(a), UTF8String.fromString(b))

  test("jaroWinkler matches DuckDB bit-for-bit on the classic pairs") {
    // golden values: DuckDB 1.x jaro_winkler_similarity
    jw("martha", "marhta") shouldBe 0.9611111111111111
    jw("dixon", "dicksonx") shouldBe 0.8133333333333332
    jw("jellyfish", "smellyfish") shouldBe 0.8962962962962964
    jw("dwayne", "duane") shouldBe 0.8400000000000001
    jw("hello world", "help word") shouldBe 0.8812710437710437
    jw("prefix", "pretext") shouldBe 0.8222222222222222
    jw("abcd", "abcdefghijklmnop") shouldBe 0.850000000000000
    jw("ab", "abzzzzzzzz") shouldBe 0.786666666666667 +- 1e-15
  }

  test("jaroWinkler edges: empty, identical, no-match, boost gating") {
    jw("", "") shouldBe 0.0 // DuckDB: empty side -> 0
    jw("", "abc") shouldBe 0.0
    jw("x", "") shouldBe 0.0
    jw("a", "a") shouldBe 1.0 // window clamps at 0, same-pos match
    jw("ab", "ba") shouldBe 0.0 // window 0: transposed pair can't match
    jw("abc", "abc") shouldBe 1.0
    // jaro 0.733 > 0.7 but common prefix 0 -> boost is a no-op
    jw("crate", "trace") shouldBe 0.7333333333333334
    // jaro below the 0.7 gate: prefix present but NOT boosted
    jw("abzzzz", "abqqqq") shouldBe 0.5555555555555555 +- 1e-15
    // prefix capped at 4 even with 6 common chars
    jw("aaaaaazzzz", "aaaaaaqqqq") shouldBe 0.84 +- 1e-15
  }

  test("expression is codegen'd and null-safe") {
    val df = Seq(("martha", "marhta"), (null, "x"), ("y", null))
      .toDF("a", "b").select(jaro_winkler(col("a"), col("b")).as("s"))
    df.collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0)) shouldBe
      Array(0.9611111111111111, null, null)
    // stays inside whole-stage codegen on a non-foldable input (the
    // literal frame above constant-folds through nullSafeEval)
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val plan = docs.select(jaro_winkler(
        substring(col("text"), 1, 10), substring(col("text"), 2, 10)).as("s"))
      .queryExecution.executedPlan.toString
    // `*(n)` is the whole-stage-codegen marker; a CodegenFallback
    // expression would leave the Project unstarred
    plan should include("*(1) Project [jarowinklerexpr")
  }

  test("fuzzyJoin: multi-pass blocking ORs the passes and dedups candidates") {
    // 'aXc' vs 'abc': prefix pass misses (aX vs ab), suffix pass
    // hits (Xc? no)... construct explicit hits per pass instead:
    val left = Seq((1L, "abcdef"), (2L, "zzabcd"), (3L, "qqqqqq"))
      .toDF("lid", "lk")
    val right = Seq((10L, "abcxef"), (20L, "yyabcd"), (30L, "rrrrrr"))
      .toDF("rid", "rk")
    // pair (1,10): prefix "ab"="ab" hits; suffix "ef"="ef" hits too ->
    // must appear ONCE. pair (2,20): prefix differs ("zz" vs "yy"),
    // suffix "cd"="cd" hits -> appears via pass 2 only.
    val m = EntityResolution.fuzzyJoin(
      left, right, "lid", "lk", "rid", "rk", minSim = 0.0)
    val rows = m.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    rows.count(_ == ((1L, 10L))) shouldBe 1
    rows should contain((2L, 20L))
    rows should not contain ((3L, 30L)) // no pass agrees, never verified
  }

  test("bestMatches: rank-1 per left id, sim desc then right id asc") {
    val m = Seq((1L, 10L, 0.95), (1L, 11L, 0.99), (2L, 20L, 0.9),
      (2L, 21L, 0.9)).toDF("id_l", "id_r", "sim")
    rowSet(EntityResolution.bestMatches(m)) shouldBe Set(
      Seq(1L, 11L, 0.99), Seq(2L, 20L, 0.9)) // tie at 0.9 -> smaller id_r
  }

  test("bestMatches: int and string right ids keep the winner rule") {
    val m = Seq((1L, 10L, 0.95), (1L, 11L, 0.99), (2L, 20L, 0.9),
      (2L, 21L, 0.9)).toDF("id_l", "id_r", "sim")
    for (t <- Seq("int", "string")) withClue(t) {
      val best = EntityResolution.bestMatches(
        m.withColumn("id_r", col("id_r").cast(t)))
      best.schema("id_r").dataType.catalogString shouldBe t
      rowSet(best.select(col("id_l"), col("id_r").cast("long"), col("sim"))) shouldBe
        Set(Seq(1L, 11L, 0.99), Seq(2L, 20L, 0.9))
    }
  }

  test("tokenSignatureBlocker: sorted initials, order/typo invariant") {
    val df = Seq("delta alpha charlie bravo", "alpha bravo charlie delta",
      "aXXXX bYYYY cZZZZ dWWWW", "echo foxtrot").toDF("k")
      .select(EntityResolution.tokenSignatureBlocker(4)(col("k")).as("s"))
    // reordering and in-token typos map to the same signature;
    // different token sets do not
    df.as[String].collect() shouldBe Array("abcd", "abcd", "abcd", "ef")
  }

  test("fuzzyJoin end-to-end: corrupted twin resolves to itself") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val clean = docs.select(col("doc_id"), substring(col("text"), 1, 40).as("k"))
    val dirty = docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"),
      regexp_replace(substring(col("text"), 1, 40), "(.{9}).", "$1").as("k"))
    val best = EntityResolution.bestMatches(EntityResolution.fuzzyJoin(
      dirty, clean, "doc_id", "k", "doc_id", "k", minSim = 0.9))
    val n = dirty.count()
    // the corpus plants exact-duplicate texts (the dedup fixtures), so
    // a tie resolves to the duplicate with the SMALLER id — ground
    // truth is key equality, not id equality: every corrupted record's
    // winner must carry its source's exact 40-char key.
    val winnerKey = best.join(clean.withColumnRenamed("doc_id", "id_r"), "id_r")
      .withColumnRenamed("k", "k_winner")
    val sourceKey = clean.withColumnRenamed("doc_id", "id_l")
    val resolved = winnerKey.join(sourceKey, "id_l")
    resolved.count() shouldBe n // nothing dropped below threshold
    resolved.filter(col("k_winner") === col("k")).count() shouldBe n
  }
}
