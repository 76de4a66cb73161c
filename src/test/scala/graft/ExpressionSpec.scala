package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{LongDotProduct, SortedIntersectSize}

/** Custom codegen Expressions vs their composable built-in equivalents. */
class ExpressionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val rnd = new scala.util.Random(42)

  test("LongDotProduct ≡ aggregate(zip_with(...)) on random long arrays") {
    val rows = Seq.fill(200)((
      Seq.fill(64)(rnd.nextInt(2001) - 1000L),
      Seq.fill(64)(rnd.nextInt(2001) - 1000L)))
    val df = rows.toDF("a", "b")
      .withColumn("fast", LongDotProduct.longDot(col("a"), col("b")))
      .withColumn("ref", aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x))
    assert(df.filter(col("fast") =!= col("ref")).count() == 0)
    // spot value
    val r0 = df.select("fast").head().getLong(0)
    val expect = rows.head._1.zip(rows.head._2).map { case (x, y) => x * y }.sum
    assert(r0 == expect)
  }

  test("SortedIntersectSize ≡ size(array_intersect) on sorted distinct arrays") {
    def randSet() = Seq.fill(rnd.nextInt(50) + 1)(rnd.nextInt(100).toLong).distinct.sorted
    val rows = Seq.fill(300)((randSet(), randSet()))
    val df = rows.toDF("a", "b")
      .withColumn("fast", SortedIntersectSize.sortedIntersectSize(col("a"), col("b")))
      .withColumn("ref", size(array_intersect(col("a"), col("b"))).cast("long"))
    assert(df.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("SortedIntersectSize string variant") {
    def randSet() = Seq.fill(rnd.nextInt(30) + 1)("w" + rnd.nextInt(50)).distinct.sorted
    val rows = Seq.fill(300)((randSet(), randSet()))
    val df = rows.toDF("a", "b")
      .withColumn("fast", SortedIntersectSize.sortedIntersectSize(col("a"), col("b")))
      .withColumn("ref", size(array_intersect(col("a"), col("b"))).cast("long"))
    assert(df.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("null elements: LongDotProduct skips the pair, both eval paths") {
    val rows: Seq[(Seq[Option[Long]], Seq[Option[Long]])] = Seq(
      (Seq(Some(2L), None, Some(3L)), Seq(Some(10L), Some(100L), Some(5L))),
      (Seq(Some(1L), Some(1L)), Seq(None, None)))
    val df = rows.toDF("a", "b")
      .withColumn("fast", LongDotProduct.longDot(col("a"), col("b")))
    // codegen path
    assert(df.select("fast").collect().map(_.getLong(0)).toSeq == Seq(35L, 0L))
    // interpreted path (direct eval, bypassing codegen)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val lit1 = Literal.create(Seq[Any](2L, null, 3L), ArrayType(LongType, containsNull = true))
    val lit2 = Literal.create(Seq[Any](10L, 100L, 5L), ArrayType(LongType, containsNull = true))
    assert(graft.functions.LongDotProduct(lit1, lit2).eval(null) == 35L)
  }

  test("null elements: SortedIntersectSize ignores the nulls-last tail, both eval paths") {
    // array_sort puts nulls last; intersect counts only the non-null prefix
    val rows: Seq[(Seq[Option[Long]], Seq[Option[Long]])] = Seq(
      (Seq(Some(1L), Some(2L), None), Seq(Some(2L), Some(3L), None)),
      (Seq(None), Seq(Some(1L))))
    val df = rows.toDF("a", "b")
      .withColumn("fast", SortedIntersectSize.sortedIntersectSize(col("a"), col("b")))
    assert(df.select("fast").collect().map(_.getLong(0)).toSeq == Seq(1L, 0L))
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val lit1 = Literal.create(Seq[Any](1L, 2L, null), ArrayType(LongType, containsNull = true))
    val lit2 = Literal.create(Seq[Any](2L, 3L, null), ArrayType(LongType, containsNull = true))
    assert(graft.functions.SortedIntersectSize(lit1, lit2).eval(null) == 1L)
  }

  test("LongVecStats-based lloydMean ≡ the posexplode two-aggregate form, " +
      "ragged/null/empty corners included") {
    import graft.functions.LongVecStats
    // random grouped vectors: mixed lengths (ragged), null elements,
    // empty arrays, null arrays, and one group that is ONLY null/empty
    def randVec(): Option[Seq[Option[Long]]] = rnd.nextInt(10) match {
      case 0 => None                      // null array
      case 1 => Some(Seq.empty)           // empty array
      case _ => Some(Seq.fill(rnd.nextInt(5) + 1)(
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(2001) - 1000L)))
    }
    val rows = Seq.tabulate(400)(i => ((i % 7).toLong, randVec())) ++
      Seq((99L, None), (99L, Some(Seq.empty[Option[Long]]))) // only-degenerate group
    val df = rows.toDF("cid", "qv")
    def refMean(in: org.apache.spark.sql.DataFrame) = in
      .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .withColumn("v", expr("s div n"))
      .groupBy(col("cid"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("v")))),
        x => x.getField("v")).as("cv"))
    def fastMean(in: org.apache.spark.sql.DataFrame) = in
      .where(size(col("qv")) > 0)
      .groupBy(col("cid"))
      .agg(LongVecStats.vecStats(col("qv")).as("st"))
      .withColumn("cv", expr(
        "transform(sequence(1, size(st.rows)), p -> " +
          "CASE WHEN element_at(st.nn, p) > 0 " +
          "THEN element_at(st.sums, p) div element_at(st.rows, p) END)"))
      .select(col("cid"), col("cv"))
    val ref = refMean(df).collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    val fast = fastMean(df).collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(fast.keySet == ref.keySet) // the only-degenerate group emits NO row in both
    assert(!fast.contains(99L))
    for ((k, v) <- ref) assert(fast(k) == v, s"group $k: ${fast(k)} != $v")
  }

  /** The interpreted argmax-cosine fold ArgmaxCosineCid replaces, over
    * columns vec_id, qv, nrm and the model array `cents`. */
  private def cosFold(df: org.apache.spark.sql.DataFrame) = df
    .withColumn("best", aggregate(col("cents"),
      struct(lit(-2.0).as("cos"), lit(-1L).as("cid")),
      (acc, c) => {
        val cs = graft.functions.LongDotProduct.longDot(col("qv"), c.getField("cv")) /
          sqrt((col("nrm") * c.getField("cnrm")).cast("double"))
        when(cs > acc.getField("cos"),
          struct(cs.as("cos"), c.getField("cid").as("cid"))).otherwise(acc)
      }))
    .select(col("vec_id"), col("best.cid").as("cid"))

  /** The interpreted argmin-L2 fold ArgminL2Cid replaces, over columns
    * vec_id, m, sv, snrm and the codebook array `cbs`. */
  private def l2Fold(df: org.apache.spark.sql.DataFrame) = df
    .withColumn("best", aggregate(col("cbs"),
      struct(lit(Long.MaxValue).as("d"), lit(-1L).as("cid")),
      (acc, c) => {
        val d = col("snrm") + c.getField("cnrm") -
          graft.functions.LongDotProduct.longDot(col("sv"), c.getField("cv")) * 2
        when(c.getField("m") === col("m") && d < acc.getField("d"),
          struct(d.as("d"), c.getField("cid").as("cid"))).otherwise(acc)
      }))
    .select(col("vec_id"), col("best.cid").as("cid"))

  test("ArgAssign expressions ≡ the interpreted aggregate folds they replace, " +
      "null/NaN/empty/tie corners included") {
    import graft.functions.ArgAssign
    // random vectors incl. null elements, null arrays, zero vectors
    // (NaN cosine), duplicate centroids (ties -> lowest cid)
    def vec(dim: Int): Seq[Option[Long]] = Seq.fill(dim)(
      if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(21) - 10L))
    val dupCv = vec(8) // shared by two cids: the tie must keep the lower
    val cents = ((0L until 10L).map(c => (c, vec(8))) :+
      (10L, Seq.fill(8)(Option(0L))) :+ // zero centroid: NaN cosine
      (11L, dupCv) :+ (12L, dupCv)).toDF("cid", "cv")
      .withColumn("cnrm", aggregate(zip_with(col("cv"), col("cv"), (x, y) => x * y),
        lit(0L), (a, x) => a + coalesce(x, lit(0L))))
    val centArr = cents.agg(
      sort_array(collect_list(struct(col("cid"), col("cv"), col("cnrm")))).as("cents"))
    val rows: Seq[(Long, Option[Seq[Option[Long]]])] =
      Seq.tabulate(300)(i => (i.toLong, if (i % 37 == 0) None else Some(vec(8)))) :+
        (1000L, Some(Seq.fill(8)(Option(0L)))) // zero vector: NaN everywhere
    val base = rows.toDF("vec_id", "qv")
      .withColumn("nrm", aggregate(zip_with(col("qv"), col("qv"), (x, y) => x * y),
        lit(0L), (a, x) => a + coalesce(x, lit(0L))))
      .withColumn("nrm", when(col("qv").isNotNull, col("nrm")))
      .crossJoin(broadcast(centArr))
    val ref = cosFold(base)
    val fast = base.select(col("vec_id"),
      ArgAssign.argmaxCosineCid(col("qv"), col("nrm"), col("cents")).as("cid"))
    val refM = ref.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    val fastM = fast.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(refM == fastM)
    // some -1 (null qv) and some real assignments must both occur
    assert(refM.values.exists(_ == -1L) && refM.values.exists(v => v != null && v.asInstanceOf[Long] >= 0L))

    // PQ argmin: subspace-tagged codebooks, exact long L2, ties
    val cbs = (for (m <- 0 until 3; c <- 0 until 6)
      yield (m, (c + 100).toLong, vec(4))).toDF("m", "cid", "cv")
      .withColumn("cnrm", aggregate(zip_with(col("cv"), col("cv"), (x, y) => x * y),
        lit(0L), (a, x) => a + coalesce(x, lit(0L))))
    val cbArr = cbs.agg(sort_array(collect_list(
      struct(col("m"), col("cid"), col("cv"), col("cnrm")))).as("cbs"))
    val subs = (for (i <- 0 until 200) yield (i.toLong, i % 3, vec(4)))
      .toDF("vec_id", "m", "sv")
      .withColumn("snrm", aggregate(zip_with(col("sv"), col("sv"), (x, y) => x * y),
        lit(0L), (a, x) => a + coalesce(x, lit(0L))))
      .crossJoin(broadcast(cbArr))
    val refPq = l2Fold(subs)
    val fastPq = subs.select(col("vec_id"),
      ArgAssign.argminL2Cid(col("sv"), col("snrm"), col("m"), col("cbs")).as("cid"))
    assert(refPq.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long].toString) ==
      fastPq.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long].toString))
  }

  test("TopKPairs ≡ the row_number window it replaces, on random grouped data") {
    import graft.functions.TopKPairs.topkPairs
    import org.apache.spark.sql.expressions.Window
    val rows = Seq.tabulate(2000)(i =>
      (rnd.nextInt(20), rnd.nextInt(50).toLong, i.toLong)) // dup scores → tie-breaks exercised
    val df = rows.toDF("g", "s", "id")
    val viaAgg = df.groupBy("g")
      .agg(topkPairs(col("s"), col("id"), 5).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("g"), (col("i") + 1).as("rank"),
        col("p.score").as("s"), col("p.id").as("id"))
    val viaWindow = df.withColumn("rank", row_number().over(
        Window.partitionBy("g").orderBy(col("s").desc, col("id").asc)).cast("long"))
      .filter(col("rank") <= 5)
      .select("g", "rank", "s", "id")
    assert(viaAgg.exceptAll(viaWindow).count() == 0)
    assert(viaWindow.exceptAll(viaAgg).count() == 0)
    assert(viaAgg.count() == 100) // 20 groups × 5
  }

  test("TopKPairs: null score or id rows are skipped; groups smaller " +
    "than k emit what they have; SQL registration works") {
    import graft.functions.TopKPairs.topkPairs
    val df = Seq[(Int, Option[Long], Option[Long])](
      (1, Some(10L), Some(100L)), (1, None, Some(101L)),
      (1, Some(30L), None), (1, Some(20L), Some(102L)),
      (2, Some(7L), Some(200L))).toDF("g", "s", "id")
    val out = df.groupBy("g").agg(topkPairs(col("s"), col("id"), 3).as("top"))
      .collect().map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getLong(0), p.getLong(1))))
      .toMap
    assert(out(1) == Seq((20L, 102L), (10L, 100L))) // null rows dropped
    assert(out(2) == Seq((7L, 200L)))
    graft.functions.GraftFunctions.register(spark)
    df.createOrReplaceTempView("topk_in")
    val viaSql = spark.sql(
      "SELECT g, topk_pairs(s, id, 3) AS top FROM topk_in GROUP BY g")
      .collect().map(r => r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1).length).toMap
    assert(viaSql == Map(1 -> 2, 2 -> 1))
  }

  test("ShingleGen ≡ the explode(transform(sequence)) form it streams past") {
    import graft.functions.ShingleGen.shingleGen
    val texts = Seq("abcdefghijk", "ab", "", "exactly8", "ασδφghjklm", null)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val viaGen = df.select(col("id"), shingleGen(col("text"), 8, 4))
    val viaExplode = df
      .filter(col("text").isNotNull && length(col("text")) >= 8)
      .select(col("id"), explode(expr(
        "transform(sequence(0, length(text) - 8, 4), " +
          "p -> struct(p AS pos, substring(text, p + 1, 8) AS shingle))")).as("s"))
      .select(col("id"), col("s.pos").as("pos"), col("s.shingle").as("shingle"))
    assert(viaGen.exceptAll(viaExplode).count() == 0)
    assert(viaExplode.exceptAll(viaGen).count() == 0)
    // geometry: 11 chars → pos 0 only? no: 0 and... 0+4+8=12 > 11 → pos {0}
    // "abcdefghijk"(11) → pos 0; "exactly8"(8) → pos 0; greek 10 cps → pos 0
    assert(viaGen.count() == 3)
    // SQL registration: LATERAL VIEW over the generator
    graft.functions.GraftFunctions.register(spark)
    df.createOrReplaceTempView("shingle_in")
    val viaSql = spark.sql(
      "SELECT id, pos, shingle FROM shingle_in " +
        "LATERAL VIEW shingle_gen(text, 8, 4) t AS pos, shingle")
    assert(viaSql.exceptAll(viaGen).count() == 0 &&
      viaGen.exceptAll(viaSql).count() == 0)
  }

  test("non-ANSI cast semantics (SURVEY §7.4): garbage → null, float-like → truncated") {
    // BigQuery CAST would ERROR on '1.5' and 'abc'; Spark non-ANSI
    // truncates numeric strings and nulls non-numeric ones.
    val df = Seq("12", "1.5", "abc", "").toDF("s")
      .withColumn("i", col("s").cast("int"))
    val got = df.collect().map(r => Option(r.get(1))).toSeq
    assert(got == Seq(Some(12), Some(1), None, None))
  }

  test("non-ANSI string→long edges (the q_json_map oracle contract)") {
    // the q_json_map oracle emulates exactly these semantics in DuckDB;
    // if Spark's cast ever changes, this fails before the oracle diverges
    val cases = Seq(
      "9007199254740993" -> Some(9007199254740993L), // exact past 2^53
      "Infinity" -> None, "1e3" -> None, // no exponent/inf parsing
      "-7.9" -> Some(-7L), ".5" -> Some(0L), "5." -> Some(5L), // truncate at the dot
      " 7 " -> Some(7L), "+7" -> Some(7L), // trim + sign
      "\t7\n" -> Some(7L), // ALL bytes <= 0x20 trim, not just spaces
      "--7" -> None, "9223372036854775808" -> None) // garbage, int64 overflow
    val got = cases.map(_._1).toDF("s").withColumn("l", col("s").cast("long"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    cases.foreach { case (s, want) => assert(got(s) == want, s"[$s]") }
  }

  test("cast(avg) truncates toward zero in Spark") {
    val v = Seq(1, 2).toDF("x").agg(avg("x").cast("int")).head().getInt(0)
    assert(v == 1) // 1.5 → 1 (DuckDB CAST would round; oracles use // instead)
  }

  test("MinHashSigs ≡ the composable explode+groupBy signature stage") {
    import graft.functions.MinHashSigs
    val k = MinHashSigs.NumHashes
    // the real corpus (sf0.001), not synthetic strings: every token the
    // shipped pipeline hashes must hash identically in the expression
    val toks = graft.sources.Tables.documents(spark, TestSpark.Sf0001)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val viaExpr = toks
      .select(col("doc_id"), MinHashSigs.minhashSigs(col("toks")).as("sig"))
      .where(col("sig").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val sigAggs = (0 until k).map(j =>
      min(when(col("h") === j, col("hv"))).as(s"m$j"))
    val viaGroup = toks
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .withColumn("h", explode(sequence(lit(0), lit(k - 1))))
      .select(col("doc_id"), col("h"),
        conv(substring(md5(concat(col("h").cast("string"), lit(":"), col("tok"))), 1, 15), 16, 10)
          .cast("long").as("hv"))
      .groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
      .select(col("doc_id"), array((0 until k).map(j => col(s"m$j")): _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr.nonEmpty)
    assert(viaExpr == viaGroup)
  }

  test("MinHashSigs null semantics: null array → null; only-null tokens → null") {
    import graft.functions.MinHashSigs
    val df = Seq(
      (1L, Some(Seq(Some("a"), Some("b")))),
      (2L, Some(Seq[Option[String]](None))),
      (3L, None: Option[Seq[Option[String]]]))
      .toDF("id", "toks")
      .select(col("id"), MinHashSigs.minhashSigs(col("toks")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(df == Map(1L -> false, 2L -> true, 3L -> true))
  }

  test("NgramHashes ≡ the transform(sequence) md5-window lambda it replaces, " +
      "null tokens, short/empty/null arrays, multibyte tokens, both eval paths") {
    import graft.functions.NgramHashes.ngramHashes
    val vocab = Seq("a", "bb", "ccc", "ασδφ", "日本語", "é", "😀", "")
    val arrays: Seq[Option[Seq[Option[String]]]] = Seq.fill(300)(
      if (rnd.nextInt(25) == 0) None
      else Some(Seq.fill(rnd.nextInt(14))(
        if (rnd.nextInt(6) == 0) None else Some(vocab(rnd.nextInt(vocab.size)))))) ++
      Seq(Some(Seq.empty), Some(Seq(None, None, None)), Some(Seq(Some("x"))))
    def lambdaForm(n: Int): String = {
      val terms = (0 until n).map(j => s"element_at(t, i + $j)").mkString(", ")
      // the call sites' form; a null array (empty there, since size(NULL)
      // is -1) maps to NULL here — explode() of either yields no rows
      s"CASE WHEN t IS NULL THEN NULL WHEN size(t) >= $n THEN transform(" +
        s"sequence(1, size(t) - ${n - 1}), " +
        s"i -> cast(conv(substring(md5(concat_ws(' ', $terms)), 1, 15), 16, 10) AS BIGINT)) " +
        "ELSE array() END"
    }
    val rows = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }
    def hashes(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Seq[Long]]] =
      df.collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val Seq(cg, interp) = Seq(spark, interpreted).map { s =>
      import s.implicits._
      // an RDD source, not a local relation: projections run in tasks
      val in = s.sparkContext.parallelize(rows, 3).toDF("id", "t")
      Seq(1, 2, 8).map { n =>
        val fast = in.select(col("id"), ngramHashes(col("t"), n))
        (hashes(fast), hashes(in.select(col("id"), expr(lambdaForm(n)))))
      } -> in.select(ngramHashes(col("t"), 8)).queryExecution.executedPlan.toString
    }
    for (((got, _), mode) <- Seq(cg -> "codegen", interp -> "interpreted")) {
      for (((fast, ref), n) <- got.zip(Seq(1, 2, 8))) {
        assert(fast.size == rows.length && fast == ref, s"n=$n $mode")
        assert(fast.values.exists(_.exists(_.nonEmpty)) && fast.values.exists(_.exists(_.isEmpty)))
      }
    }
    assert(cg._2.contains("*(1) Project [ngram_hashes"), cg._2)
    assert(!interp._2.contains("*("), interp._2)
    graft.functions.GraftFunctions.register(spark)
    rows.toDF("id", "t").createOrReplaceTempView("ngram_in")
    val viaSql = hashes(spark.sql(
      "SELECT id, ngram_hashes(t, 2) AS h FROM ngram_in WHERE id < 40"))
    val viaCol = hashes(rows.toDF("id", "t").where(col("id") < 40)
      .select(col("id"), ngramHashes(col("t"), 2)))
    assert(viaSql == viaCol && viaSql.size == 40)
    assert(intercept[Exception](spark.sql("SELECT ngram_hashes(t, id) FROM ngram_in").collect())
      .getMessage.contains("integer literal"))
  }

  test("ArgAssign with the model as a scalar subquery ≡ the folds, clean " +
      "models and null-riddled ones (nulls carried by the decoded form)") {
    import graft.functions.ArgAssign
    import org.apache.spark.sql.{Column, DataFrame}
    def vec(dim: Int, nullEvery: Int): Seq[Option[Long]] = Seq.fill(dim)(
      if (nullEvery > 0 && rnd.nextInt(nullEvery) == 0) None else Some(rnd.nextInt(21) - 10L))
    def nrm(c: String): Column = aggregate(zip_with(col(c), col(c), (x, y) => x * y),
      lit(0L), (a, x) => a + coalesce(x, lit(0L)))
    def assertMixed(m: Map[Long, Any], what: String) =
      assert(m.values.exists(_ == -1L) && m.values.exists {
        case v: Long => v >= 0L
        case _ => false
      }, s"$what: both -1 and real ids must occur")
    def collectIds(df: DataFrame): Map[Long, Any] =
      df.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap

    // rows: clean vectors, vectors with null elements, null vectors, zero vectors
    val rowsQ = Seq.tabulate(400)(i => (i.toLong,
      if (i % 37 == 0) None else Some(vec(8, if (i % 3 == 0) 8 else 0)))) :+
      (1000L, Some(Seq.fill(8)(Option(0L))))
    val base = spark.sparkContext.parallelize(rowsQ, 4).toDF("vec_id", "qv")
      .withColumn("nrm", when(col("qv").isNotNull, nrm("qv")))
    for (nullEvery <- Seq(0, 6)) {
      val dupCv = vec(8, nullEvery)
      val cents = ((0L until 10L).map(c => (Option(c), vec(8, nullEvery))) :+
        (Option(10L), Seq.fill(8)(Option(0L))) :+ (Option(11L), dupCv) :+ (Option(12L), dupCv) :+
        ((if (nullEvery > 0) None else Some(13L)), vec(8, 0))).toDF("cid", "cv")
        .withColumn("cnrm", nrm("cv"))
      val centArr = cents.agg(sort_array(collect_list(struct(col("cid"), col("cv"), col("cnrm")))))
      val ref = cosFold(base.crossJoin(broadcast(centArr.toDF("cents"))))
      val fast = base.select(col("vec_id"),
        ArgAssign.argmaxCosineCid(col("qv"), col("nrm"), centArr.scalar()))
      val refM = collectIds(ref)
      assert(collectIds(fast) == refM, s"argmax_cos_cid, model nulls every $nullEvery")
      assertMixed(refM, "argmax_cos_cid")
    }

    // PQ: m-tagged codebooks (ties, zero codewords); rows of every m,
    // an m no codebook has, a null m
    val subs = spark.sparkContext.parallelize(Seq.tabulate(300)(i =>
      (i.toLong, if (i % 41 == 0) None else Some(i % 4),
        if (i % 53 == 0) None else Some(vec(4, if (i % 5 == 0) 6 else 0)))), 4)
      .toDF("vec_id", "m", "sv").withColumn("snrm", when(col("sv").isNotNull, nrm("sv")))
    for (nullEvery <- Seq(0, 6)) {
      val dup = vec(4, nullEvery)
      val cbs = ((for (m <- 0 until 3; c <- 0 until 6)
        yield (Option(m), Option((c + 100).toLong), if (c == 4 || c == 5) dup else vec(4, nullEvery))) ++
        (if (nullEvery > 0) Seq((None, Some(999L), vec(4, 0)), (Some(1), None, Seq.fill(4)(Option(-9L))))
         else Seq((Some(2), Some(1L), Seq.fill(4)(Option(0L))))))
        .toDF("m", "cid", "cv").withColumn("cnrm", nrm("cv"))
      val cbArr = cbs.agg(sort_array(collect_list(
        struct(col("m"), col("cid"), col("cv"), col("cnrm")))))
      val ref = l2Fold(subs.crossJoin(broadcast(cbArr.toDF("cbs"))))
      val fast = subs.select(col("vec_id"),
        ArgAssign.argminL2Cid(col("sv"), col("snrm"), col("m"), cbArr.scalar()))
      val refM = collectIds(ref)
      assert(collectIds(fast) == refM, s"argmin_l2_cid, model nulls every $nullEvery")
      assertMixed(refM, "argmin_l2_cid")
    }
  }

  test("ArgAssign: a mistyped model struct fails ANALYSIS with the field " +
      "named, never a runtime ClassCastException") {
    import graft.functions.ArgAssign
    import org.apache.spark.sql.AnalysisException
    val rows = Seq((1L, Seq(1L, 2L), 5L, 0)).toDF("id", "v", "n", "m")
    val model = Seq((7L, Seq(1L, 2L), 5L, 0)).toDF("cid", "cv", "cnrm", "m")
    def cents(fields: String*) = model.agg(collect_list(struct(fields.map(col): _*)))
    def failsOn(field: String)(build: => Any): Unit = {
      val e = intercept[AnalysisException](build)
      assert(e.getMessage.contains(s"`$field`"), e.getMessage)
    }
    val asString = model.withColumn("cid", col("cid").cast("string"))
      .agg(collect_list(struct(col("cid"), col("cv"), col("cnrm"))))
    failsOn("cid")(rows.select(ArgAssign.argmaxCosineCid(col("v"), col("n"), asString.scalar())))
    val intCv = model.withColumn("cv", col("cv").cast("array<int>"))
      .agg(collect_list(struct(col("m"), col("cid"), col("cv"), col("cnrm"))))
    failsOn("cv")(rows.select(
      ArgAssign.argminL2Cid(col("v"), col("n"), col("m"), intCv.scalar())))
    failsOn("cnrm")(rows.select(
      ArgAssign.argmaxCosineCid(col("v"), col("n"), cents("cid", "cv").scalar())))
    failsOn("m")(rows.select(
      ArgAssign.argminL2Cid(col("v"), col("n"), col("m"), cents("cid", "cv", "cnrm").scalar())))
    // the well-typed model still resolves and runs
    assert(rows.select(ArgAssign.argminL2Cid(col("v"), col("n"), col("m"),
      cents("m", "cid", "cv", "cnrm").scalar())).head().getLong(0) == 7L)
  }
}
