package graft

import graft.functions.Cleaners
import org.apache.spark.sql.functions.col

/** Unit + property-style tests for the cleaning layer (SURVEY.md §5.2 items
  * 3–4). Expected values transcribed from the reference's semantics:
  * amsterdam_map_data_wrangling.py:87,117–146 and Readme.md:75–128. */
class CleanersSpec extends SparkTestBase {

  import spark.implicits._

  private def splitOf(k: String): (String, String) = {
    val r = Seq(k).toDF("k")
      .select(Cleaners.keyType(col("k")), Cleaners.keyTail(col("k")))
      .head()
    (r.getString(0), r.getString(1))
  }

  private def phonesOf(vs: Seq[String]): Seq[String] =
    vs.toDF("v").select(Cleaners.nlPhone(col("v"))).collect().map(_.getString(0)).toSeq

  private def postcodesOf(vs: Seq[String]): Seq[String] =
    vs.toDF("v").select(Cleaners.nlPostcode(col("v"))).collect().map(_.getString(0)).toSeq

  private def phoneOf(v: String): String = phonesOf(Seq(v)).head
  private def postcodeOf(v: String): String = postcodesOf(Seq(v)).head

  test("T1 splits at the first colon only") {
    assert(splitOf("addr:postcode") === ("addr", "postcode"))
    assert(splitOf("cycleway:right:surface:color") === ("cycleway", "right:surface:color"))
  }

  test("T1 leaves non-matching keys as regular") {
    assert(splitOf("highway") === ("regular", "highway"))
    assert(splitOf("CEMT") === ("regular", "CEMT"))               // uppercase
    assert(splitOf("naptan:CommonName") === ("regular", "naptan:CommonName")) // uppercase after colon
    assert(splitOf("ref:2") === ("regular", "ref:2"))             // digit after colon
    assert(splitOf(":postcode") === ("regular", ":postcode"))     // leading colon
  }

  test("T1 allows underscores") {
    assert(splitOf("source_ref:name") === ("source_ref", "name"))
  }

  test("T3 phone: all seven digit-count branches (py:135–146)") {
    assert(phoneOf("0205551234") === "+31205551234")     // 10 -> +31 + drop leading 0
    assert(phoneOf("05551234") === "+315551234")         // 8  -> +31 + drop leading 0
    assert(phoneOf("31205551234") === "+31205551234")    // 11 -> + prefix
    assert(phoneOf("205551234") === "+205551234")        // 9  -> + prefix
    assert(phoneOf("310205551234") === "+31205551234")   // 12 -> drop trunk (0) at pos 3
    assert(phoneOf("0031205551234") === "+31205551234")  // 13 -> drop 00
    assert(phoneOf("5551234") === "+315551234")          // 7  -> +31 prefix
    assert(phoneOf("12345") === "12345")                 // else -> unchanged digits
    assert(phoneOf("020-555 12.34") === "+31205551234")  // separators stripped first
  }

  test("T2 postcode: slice semantics incl. Readme example 1074CM") {
    assert(postcodeOf("1074CM") === "1074 CM")
    assert(postcodeOf("1074 CM") === "1074 CM")       // idempotent on correct form
    assert(postcodeOf("  1074CM  ") === "1074 CM")    // lstrip/rstrip
  }

  test("T2 strips tabs/newlines like Python lstrip/rstrip; chain == UDF") {
    // Spark's ltrim/rtrim are space-only; the chain must strip ALL \s to
    // agree with the reference's lstrip()/rstrip() and the registered UDF
    assert(postcodeOf("\t1074CM\n") === "1074 CM")
    assert(postcodeOf(" \t 1074 \n CM \r\n") === "1074 CM")
    // Unicode whitespace (NBSP) — Python's lstrip/rstrip strips it too
    assert(postcodeOf(" 1074CM ") === "1074 CM")
    graft.functions.Cleaners.register(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val padded = Seq("\t1074CM\n", " 9999\tAB ", "1011\r\nZZ", "  1074CM  ")
      .toDF("v")
    val disagree = padded
      .select(graft.functions.Cleaners.nlPostcode(col("v")).as("chain"),
        expr("nl_postcode(v)").as("udf"))
      .filter(col("chain") =!= col("udf"))
    assert(disagree.count() === 0)
  }

  test("T2 is idempotent over generated NNNN[ ]AA postcodes") {
    val rnd = new scala.util.Random(42)
    val samples = Seq.fill(200) {
      val d = 1000 + rnd.nextInt(9000)
      val sp = if (rnd.nextBoolean()) " " else ""
      val a = ('A' + rnd.nextInt(26)).toChar; val b = ('A' + rnd.nextInt(26)).toChar
      s"$d$sp$a$b"
    }
    val once = postcodesOf(samples)
    val twice = postcodesOf(once)
    assert(once === twice)
  }

  test("TextFunctions: regex tokenizer, stopword ratio, fingerprints") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions.{col, size}
    val df = Seq("the cat, and the dog!", "solo").toDF("t")
    val toks = df.select(size(TextFunctions.tokensRe(col("t"))))
      .collect().map(_.getInt(0))
    assert(toks.head === 5) // punctuation separates; no empty trailing token
    val fps = df.select(TextFunctions.fingerprint(TextFunctions.normalized(col("t"))))
      .collect().map(_.getString(0))
    assert(fps.distinct.length === 2 && fps.forall(_.length === 32))
  }

  test("cleaners are SQL-callable after registration (§2.12 UDF surface)") {
    Cleaners.register(spark)
    val r = spark.sql(
      "SELECT nl_phone('020-555 1234') AS p, nl_postcode(' 1074CM ') AS pc").head()
    assert(r.getString(0) === "+31205551234")
    assert(r.getString(1) === "1074 CM")
    // SQL UDFs agree with the expression-chain implementations everywhere
    val vs = Seq("0205551234", "05551234", "+31 (0)20 555", "x", "")
    val both = vs.toDF("v").selectExpr("nl_phone(v) AS u")
      .collect().map(_.getString(0)).toSeq
    assert(both === phonesOf(vs))
  }

  test("T3 is +-prefixed exactly for digit counts 7..13 over generated inputs") {
    val rnd = new scala.util.Random(7)
    val samples = Seq.fill(300)("0" * (1 + rnd.nextInt(3)) +
      Seq.fill(3 + rnd.nextInt(13))(rnd.nextInt(10)).mkString)
    val outs = phonesOf(samples)
    samples.zip(outs).foreach { case (in, out) =>
      if ((7 to 13).contains(in.length)) assert(out.startsWith("+"), s"in=$in out=$out")
      else assert(out === in, s"in=$in out=$out")
    }
  }

  test("NfcNormalize: recomposes decomposed text, identity on normalized " +
    "input, stays inside whole-stage codegen") {
    import graft.plans.GraftFunctions.nfc
    val df = Seq("cafe\u0301", "plain ascii 123", "e\u0301e\u0301",
        "\u00e9 already composed")
      .toDF("t")
      .select(col("t"), nfc(col("t")).as("n"))
    val rows = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("cafe\u0301") === "caf\u00e9")
    assert(rows("e\u0301e\u0301") === "\u00e9\u00e9")
    // already-NFC inputs come back verbatim (the zero-alloc fast path)
    assert(rows("plain ascii 123") === "plain ascii 123")
    assert(rows("\u00e9 already composed") === "\u00e9 already composed")
    // custom Expression, not a UDF: over a real scan (a local Seq folds
    // to LocalTableScan) the projection is whole-stage codegen'd
    val scan = Tables.t(spark, Sf, "documents")
      .select(nfc(col("text")).as("n"))
    val plan = scan.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark whole-stage-codegen'd operators in toString
    assert(plan.contains("*(1) Project [graft_nfc("), plan)
    assert(!plan.contains("ScalaUDF"), plan)
    assert(scan.count() > 0)
  }
}
