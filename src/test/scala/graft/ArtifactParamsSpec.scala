package graft

import graft.operators.ArtifactParams

/** Unit gates for the ONE artifact-params owner (round-13 verdict item
  * 4): every persisted family (NSW, IVF-ADC, SQ8, matryoshka, release)
  * loads through [[ArtifactParams]], so ITS designed-message contract —
  * never a ClassCastException/NPE from a foreign writer's schema — is
  * worth pinning once, directly, instead of five times through family
  * loaders. */
class ArtifactParamsSpec extends SparkTestBase {

  import spark.implicits._

  private def dir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-ap")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("happy path: foreign integer widths widen to Long; optional " +
    "count column absent -> None; version gate passes") {
    val d = dir()
    // an INT version + a SHORT-ish count from a foreign writer
    Seq((1, "id", 64)).toDF("version", "id_col", "dim")
      .coalesce(1).write.parquet(s"$d/params")
    val h = ArtifactParams.read(spark, d, "unit", Seq("version", "id_col"))
    assert(h.requireVersion(1L) === 1L)
    assert(h.long("dim") === 64L)
    assert(h.int("dim") === 64)
    assert(h.string("id_col") === "id")
    assert(h.longOpt("n_rows").isEmpty, "absent column must be None")
    assert(!h.has("n_rows") && h.has("dim"))
    // matching counts pass; a None want is skipped even when got differs
    h.verifyCounts(fail("cleanup must not run"))(
      ArtifactParams.Count("rows", Some(64L), 64L),
      ArtifactParams.Count("extra", None, 999L))
  }

  test("designed refusals: missing column, multi-row params, null " +
    "version, non-integer version, Int overflow, wrong-typed string") {
    val d1 = dir()
    Seq(Tuple1(1)).toDF("other").coalesce(1).write.parquet(s"$d1/params")
    val e1 = intercept[IllegalArgumentException] {
      ArtifactParams.read(spark, d1, "unit", Seq("version"))
    }
    assert(e1.getMessage.contains("no version column"), e1.getMessage)

    val d2 = dir()
    Seq(Tuple1(1), Tuple1(2)).toDF("version")
      .coalesce(1).write.parquet(s"$d2/params")
    val e2 = intercept[IllegalArgumentException] {
      ArtifactParams.read(spark, d2, "unit")
    }
    assert(e2.getMessage.contains("malformed unit artifact"), e2.getMessage)

    val d3 = dir()
    Seq(Tuple1(Option.empty[Long])).toDF("version")
      .coalesce(1).write.parquet(s"$d3/params")
    val e3 = intercept[IllegalArgumentException] {
      ArtifactParams.read(spark, d3, "unit").version
    }
    assert(e3.getMessage.contains("null version"), e3.getMessage)

    val d4 = dir()
    Seq(Tuple1("two")).toDF("version")
      .coalesce(1).write.parquet(s"$d4/params")
    val e4 = intercept[IllegalArgumentException] {
      ArtifactParams.read(spark, d4, "unit").version
    }
    assert(e4.getMessage.contains("non-integer"), e4.getMessage)

    val d5 = dir()
    Seq((1, Long.MaxValue)).toDF("version", "n")
      .coalesce(1).write.parquet(s"$d5/params")
    val h5 = ArtifactParams.read(spark, d5, "unit")
    assert(h5.long("n") === Long.MaxValue)
    val e5 = intercept[IllegalArgumentException] { h5.int("n") }
    assert(e5.getMessage.contains("overflows Int"), e5.getMessage)
    val e5b = intercept[IllegalArgumentException] { h5.string("n") }
    assert(e5b.getMessage.contains("non-string"), e5b.getMessage)
  }

  test("torn-write check: mismatch runs the cleanup exactly once and " +
    "refuses with the designed message naming every recorded count") {
    val d = dir()
    Seq((1, 10L, 3L)).toDF("version", "n_docs", "n_card_rows")
      .coalesce(1).write.parquet(s"$d/params")
    val h = ArtifactParams.read(spark, d, "unit")
    var cleaned = 0
    val e = intercept[IllegalArgumentException] {
      h.verifyCounts { cleaned += 1 }(
        ArtifactParams.Count("docs", Some(h.long("n_docs")), 10L),
        ArtifactParams.Count("card rows", Some(h.long("n_card_rows")), 99L))
    }
    assert(cleaned === 1, "cleanup must run exactly once")
    assert(e.getMessage.contains("torn unit artifact"), e.getMessage)
    assert(e.getMessage.contains("10 docs / 3 card rows"), e.getMessage)
    assert(e.getMessage.contains("10 / 99"), e.getMessage)

    // unknown version: the designed version message
    val eV = intercept[IllegalArgumentException] { h.requireVersion(7L) }
    assert(eV.getMessage.contains("version 1 != supported 7"), eV.getMessage)
  }
}
