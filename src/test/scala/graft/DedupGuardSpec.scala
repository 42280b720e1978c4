package graft

/** d9's exact-duplicate flood guard: a class of c byte-identical
  * documents shares every band key, so without the pre-banding collapse
  * it floods one bucket into C(c,2) zero-distance Levenshtein pairs —
  * C(1000,2) = 499,500 for the class planted here. The guard keeps only
  * each class's smallest doc_id, so the class contributes NO
  * within-class pairs while genuine near-duplicates still surface. */
class DedupGuardSpec extends SparkSpecBase {

  test("d9 collapses a 1k exact-duplicate class before banding") {
    import spark.implicits._
    val dupText =
      "the same duplicated document body repeated verbatim across the corpus " * 3
    val distinct = Seq(
      (100001L, "a modestly different document body with some edits applied here"),
      (100002L, "a modestly different documnt body with some edits applied here"))
    val docs = ((0L until 1000L).map(i => (i, dupText)) ++ distinct)
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.editDistancePairs(docs).collect()
    // bounded: nothing within the exact class (one representative), only
    // cross-document near-dup pairs remain
    assert(pairs.length < 10, s"candidate flood: ${pairs.length} pairs")
    val nonReps = (1L until 1000L).toSet
    pairs.foreach { r =>
      assert(!nonReps.contains(r.getLong(0)) && !nonReps.contains(r.getLong(1)),
        s"pair touches a collapsed duplicate: $r")
    }
    // the planted near-dup (one-typo) pair still surfaces
    assert(pairs.exists(r =>
      r.getLong(0) == 100001L && r.getLong(1) == 100002L))
  }

  test("d9 collapses a shared-prefix different-tail class (boilerplate " +
       "header, the real-crawl flood)") {
    import spark.implicits._
    // every doc shares the first >120 chars (a site header) but has a
    // unique tail — md5(text) would collapse NOTHING here, yet the DP
    // only ever sees the identical prefix, so the class is pairwise
    // information-free; the md5(prefix) guard must reduce it to one
    // representative and emit no pairs at all
    val header = "boilerplate site header text repeated on every page " * 3
    val docs = (0L until 500L)
      .map(i => (i, header + s" unique article body number $i"))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.editDistancePairs(docs).collect()
    assert(pairs.isEmpty,
      s"prefix-class flood: ${pairs.length} pairs from one boilerplate class")
  }

  /** The textbook d9 plan the bucket-local kernel replaced, verbatim:
    * band self-join → distinct candidates → both prefixes joined in →
    * Spark's `levenshtein` per pair. Spec-local reference only. */
  private def editDistanceByJoin(docs: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup.{bandK, d9Prefix, nBands}
    val reps = docs
      .groupBy(md5(substring(col("text"), 1, d9Prefix)).as("_h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .drop("_h")
    val base = docs.join(reps, Seq("doc_id"))
      .select(col("doc_id"),
        substring(col("text"), 1, d9Prefix).as("pfx"),
        graft.functions.TextKernels.charMinhashSigsUdf(bandK)(col("text"))
          .as("csig"))
      .filter(length(col("pfx")) >= bandK)
    val bandCols = (0 until nBands).map { i =>
      expr(s"struct(CAST($i AS INT) AS band_id, " +
           s"(element_at(csig, ${2 * i + 1})*131 + " +
           s"element_at(csig, ${2 * i + 2})) % ${graft.functions.TextPrims.P} AS bh)")
    }
    val banded = base
      .select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id").as("band_id"),
              col("band.bh").as("bh"))
    banded.as("a").join(banded.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .join(base.select(col("doc_id").as("doc_a"), col("pfx").as("pfx_a")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("pfx").as("pfx_b")), "doc_b")
      .withColumn("dist", levenshtein(col("pfx_a"), col("pfx_b")))
      .filter(col("dist") <= d9Prefix / 2)
      .select("doc_a", "doc_b", "dist")
      .orderBy("doc_a", "doc_b")
  }

  test("d9 bucket-local kernel plan == textbook join plan, bit-exact, " +
       "including a forced hot bucket") {
    import spark.implicits._
    // near-dup families whose members band-collide (one-char edits keep
    // most 7-gram minhashes); both plans must agree pair-for-pair
    // regardless of which grouping path engaged.
    // 600 members > the 512 chunk cap ⇒ the family's band
    // buckets split into chunk-pair rows, so the CHUNKED grouping (not
    // just the one-row fast path) is what the equivalence pins
    val fam = (0L until 600L).map { i =>
      (i, s"shared family document body with a tail marker $i and padding " +
        "words to clear the seven gram floor of the banding machinery")
    }
    val singles = Seq(
      (900L, "completely unrelated text one with its own vocabulary set"),
      (901L, "completely unrelated text two with its own vocabulary kit"))
    val docs = (fam ++ singles).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val kernel = rows(graft.operators.Dedup.editDistancePairs(docs))
    val join = rows(editDistanceByJoin(docs))
    assert(kernel == join, "d9 plans diverge")
    assert(kernel.nonEmpty, "planted near-dup family produced no pairs")
  }

  test("d6 kernel plan == join plan, bit-exact") {
    // the bucket-local kernel's intersect/divide is the join plan's
    // arithmetic, so both must hash identically (the unsplit banding the
    // join plan replaced is the oracle's d6Sql, checked by Verify)
    val a = graft.operators.Dedup.d6Plan(spark, sfDir)
      .collect().map(_.toSeq).toVector
    spark.catalog.clearCache()
    val k = graft.operators.Dedup.d6Kernel(spark, sfDir)
      .collect().map(_.toSeq).toVector
    spark.catalog.clearCache()
    assert(k == a, "d6 kernel plan diverges from the join plan")
    assert(a.nonEmpty, "sf0.001 corpus produced no d6 pairs")
  }

  /** The d6 pick at n = threshold ± 1 (the threshold forced through
    * `joinMaxDocs`): n ≤ threshold runs the candidate-join plan, n one
    * past it the kernel plan — told apart by the BucketJaccards node in
    * the plan — and the two results are bit-equal. */
  test("d6 plan pick at n = threshold ± 1: join and kernel agree, bit-exact") {
    import graft.operators.Dedup
    val n = Tables.documents(spark, sfDir).count()
    def usesKernel(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.find(_.expressions.exists(
        _.find(_.isInstanceOf[graft.functions.BucketJaccards]).isDefined))
        .isDefined
    def run(threshold: Long) = {
      val df = Dedup.d6CharJaccard(spark, sfDir, joinMaxDocs = threshold)
      val rows = df.collect().map(_.toSeq).toVector
      spark.catalog.clearCache()
      (usesKernel(df), rows)
    }
    val (k0, atN) = run(n)       // n == threshold: join
    val (k1, below) = run(n + 1) // n == threshold − 1: join
    val (k2, above) = run(n - 1) // n == threshold + 1: kernel
    assert(!k0 && !k1 && k2, s"paths picked: n=t $k0, n=t-1 $k1, n=t+1 $k2")
    assert(atN.nonEmpty, "sf0.001 corpus produced no d6 pairs")
    assert(below == atN && above == atN, "d6 paths diverge at the threshold")
    val bits = (rs: Vector[Seq[Any]]) =>
      rs.map(r => java.lang.Double.doubleToLongBits(r(4).asInstanceOf[Double]))
    assert(bits(above) == bits(atN), "d6 jaccard bits diverge")
  }

  /** `Dedup.signatures` derives `sig` from `hs`, so each document is
    * tokenized and shingled once: the optimized plan holds ONE UDF call
    * over the text column (Catalyst must not inline the shingle UDF into
    * both columns, or push a filter on `hs` below its projection). d3
    * selects the 12 values of `signatures`' `sig`, and must keep that. */
  test("signatures shingle each document once") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sfDir)
    val frames = Seq(false, true).map(withLen =>
        s"withLen=$withLen" -> Dedup.signatures(docs, withLen)) :+
      ("d3" -> Dedup.queries("d3_minhash_sig")(spark, sfDir))
    for ((name, df) <- frames) {
      import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ScalaUDF}
      val plan = df.queryExecution.optimizedPlan
      // UDFs whose argument IS the text column: d3's collapsed
      // UDF(UDF(text)) is one shingling with the minhash over its output
      val textUdfs = plan.flatMap(_.expressions.flatMap(_.collect {
        case u: ScalaUDF if u.children.exists {
          case a: AttributeReference => a.name == "text"
          case _ => false
        } => u
      }))
      assert(textUdfs.size == 1,
        s"$name: ${textUdfs.size} text UDF calls in\n$plan")
    }
  }

  test("d15 truth pairs reject a non-literal threshold with a clear message") {
    import spark.implicits._
    def rejects(run: => Any): Unit = {
      val e = intercept[IllegalArgumentException](run)
      assert(e.getMessage.contains("accepts only a literal numeric threshold"),
        e.getMessage)
    }
    rejects(graft.operators.Dedup.sampleTruthPairs(
      spark.range(1).toDF("doc_id"), "jac_threshold"))
    // the same kernel gate guards d4's pairs and both probe paths
    val docs = Seq((1L, "some words to shingle in a document"),
      (2L, "other words to shingle in a document")).toDF("doc_id", "text")
    rejects(graft.operators.Dedup.nearDupPairs(docs, "jac_threshold"))
    val sig = graft.operators.Dedup.signatures(docs)
    rejects(graft.operators.Dedup.probePairs(sig, sig, "jac_threshold"))
    rejects(graft.operators.Dedup.probePairs(sig,
      sig.select(sig.columns.map(org.apache.spark.sql.functions.col): _*),
      "jac_threshold"))
  }
}
