package graft

import org.apache.spark.sql.functions._
import graft.operators.Regression

/** In-plan OLS (Cramer over one-pass exact moments) and the general
  * driver-side solver: exact recovery of planted models, path
  * agreement, grouped fits, loud singularity, and the fit+eval
  * metrics contract. */
class RegressionSpec extends SparkSpec {

  // y = 2 + 3·x1 − 0.5·x2 exactly (all values ≤ 2 decimals), with a
  // deterministic non-collinear x pattern
  private def planted = {
    val s = spark; import s.implicits._
    (1 to 40).map { i =>
      val x1 = i.toDouble
      val x2 = ((i * 7) % 13).toDouble
      (x1, x2, 2.0 + 3.0 * x1 - 0.5 * x2)
    }.toDF("x1", "x2", "y")
  }

  test("olsFit recovers a planted exact model bit-for-bit after rounding") {
    val betas = Regression.olsFit(planted, "y", Seq("x1", "x2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(betas == Map("intercept" -> 2.0, "x1" -> 3.0, "x2" -> -0.5))
  }

  test("driver solver agrees with the in-plan Cramer path (k=2, noisy data)") {
    val s = spark; import s.implicits._
    val noisy = (1 to 60).map { i =>
      val x1 = i.toDouble
      val x2 = ((i * 5) % 17).toDouble
      val noise = ((i * 31) % 7 - 3) / 100.0 // deterministic, 2dp
      (x1, x2, 1.25 + 0.75 * x1 + 2.0 * x2 + noise)
    }.toDF("x1", "x2", "y")
    val cramer = Regression.olsFit(noisy, "y", Seq("x1", "x2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val solved = Regression.olsSolve(noisy, "y", Seq("x1", "x2")).toMap
    for ((t, b) <- solved)
      assert(math.abs(cramer(t) - b) < 1e-6, s"term $t: ${cramer(t)} vs $b")
  }

  test("k=3 Cramer (4x4 determinants) matches the driver solver") {
    val s = spark; import s.implicits._
    val df = (1 to 80).map { i =>
      val x1 = i.toDouble
      val x2 = ((i * 7) % 13).toDouble
      val x3 = ((i * 11) % 19).toDouble
      (x1, x2, x3, 5.0 - 1.5 * x1 + 0.25 * x2 + 2.0 * x3)
    }.toDF("x1", "x2", "x3", "y")
    val cramer = Regression.olsFit(df, "y", Seq("x1", "x2", "x3"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(cramer == Map(
      "intercept" -> 5.0, "x1" -> -1.5, "x2" -> 0.25, "x3" -> 2.0))
    val solved = Regression.olsSolve(df, "y", Seq("x1", "x2", "x3")).toMap
    for ((t, b) <- solved)
      assert(math.abs(cramer(t) - b) < 1e-6, s"term $t")
  }

  test("grouped fit: one model per key, each recovered independently") {
    val s = spark; import s.implicits._
    val df = (1 to 40).flatMap { i =>
      val x1 = i.toDouble; val x2 = ((i * 7) % 13).toDouble
      Seq(("a", x1, x2, 2.0 + 3.0 * x1 - 0.5 * x2),
          ("b", x1, x2, -1.0 + 0.5 * x1 + 4.0 * x2))
    }.toDF("g", "x1", "x2", "y")
    val out = Regression.olsFitBy(df, Seq("g"), "y", Seq("x1", "x2"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out == Map(
      ("a", "intercept") -> 2.0, ("a", "x1") -> 3.0, ("a", "x2") -> -0.5,
      ("b", "intercept") -> -1.0, ("b", "x1") -> 0.5, ("b", "x2") -> 4.0))
  }

  test("collinear predictors fail loudly, naming the columns") {
    val s = spark; import s.implicits._
    val df = (1 to 20).map { i =>
      (i.toDouble, 2.0 * i, i * 3.0) }.toDF("x1", "x2", "y")
    val e = intercept[IllegalArgumentException] {
      Regression.olsSolve(df, "y", Seq("x1", "x2"))
    }
    assert(e.getMessage.contains("collinear"))
    assert(e.getMessage.contains("x1") && e.getMessage.contains("x2"))
  }

  test("fitEval: a perfect fit scores rmse=0, mae=0, r2=1") {
    val row = Regression.fitEval(planted, "y", Seq("x1", "x2")).head()
    assert(row.getAs[Double]("rmse") == 0.0)
    assert(row.getAs[Double]("mae") == 0.0)
    assert(row.getAs[Double]("r2") == 1.0)
    assert(row.getAs[Double]("n") == 40.0)
  }

  test("fitEval metrics are sane on real data and r2 matches the moment identity") {
    val li = Tables.lineitem(spark, sf("sf0.001"))
    val row = Regression.fitEval(li, "l_extendedprice",
      Seq("l_quantity", "l_discount")).head()
    val r2 = row.getAs[Double]("r2")
    assert(r2 > 0.0 && r2 < 1.0) // quantity explains much of price, not all
    assert(row.getAs[Double]("rmse") > 0.0)
    assert(row.getAs[Double]("mae") <= row.getAs[Double]("rmse"))
  }

  test("predict: literal betas project shuffle-free and round at predScale") {
    val s = spark; import s.implicits._
    val df = Seq((2.0, 4.0), (3.0, 1.0)).toDF("x1", "x2")
    val out = Regression.predict(df,
      Seq("intercept" -> 1.0, "x1" -> 2.0, "x2" -> -0.25), Seq("x1", "x2"))
      .select("yhat").as[Double].collect().toSeq.sorted
    assert(out == Seq(4.0, 6.75)) // 1+4-1, 1+6-0.25
    // no Exchange in the plan: pure projection
    val plan = Regression.predict(df,
      Seq("intercept" -> 1.0, "x1" -> 2.0, "x2" -> -0.25), Seq("x1", "x2"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("ridge: lambda=0 equals OLS exactly; a large lambda shrinks the slopes") {
    val ols = Regression.olsFit(planted, "y", Seq("x1", "x2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val ridge0 = Regression.olsFitBy(planted, Nil, "y", Seq("x1", "x2"),
      ridge = 0.0).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ols == ridge0)
    val heavy = Regression.olsFitBy(planted, Nil, "y", Seq("x1", "x2"),
      ridge = 1e6).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(heavy("x1")) < math.abs(ols("x1")))
    assert(math.abs(heavy("x2")) < math.abs(ols("x2")))
  }

  test("maintained model: readOlsModel == a from-scratch fit after incremental churn") {
    import graft.sources.{IncrementalViews, Snapshots}
    val s = spark; import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_olsmodel").toString
    val (src, v) = (s"$root/src", s"$root/v")
    def batch(lo: Int, hi: Int) = (lo to hi).map { i =>
      val g = if (i % 2 == 0) "a" else "b"
      val x1 = i.toDouble; val x2 = ((i * 7) % 13).toDouble
      (i.toLong, g, x1, x2, 2.0 + 3.0 * x1 - 0.5 * x2 + ((i * 31) % 5) / 10.0)
    }.toDF("id", "g", "x1", "x2", "y")
    val cols = Seq("y", "x1", "x2")
    Snapshots.commit(batch(1, 40), src, statsCol = Some("g"))
    IncrementalViews.refreshCorrMatrix(s, src, v, Seq("g"), cols)
    Snapshots.commit(batch(41, 80), src, statsCol = Some("g"))
    Snapshots.deleteWhere(s, src, col("id") % 10 === 3)
    IncrementalViews.refreshCorrMatrix(s, src, v, Seq("g"), cols)
    val served = IncrementalViews.readOlsModel(s, v, Seq("g"), cols,
      "y", Seq("x1", "x2"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val fresh = Regression.olsFitBy(Snapshots.read(s, src), Seq("g"),
      "y", Seq("x1", "x2"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(served == fresh) // double-for-double, not approximately
    assert(served.size == 6)
  }

  test("maintained WEIGHTED model: readOlsModel(weighted) == olsFitBy(weight) after churn") {
    import graft.sources.{IncrementalViews, Snapshots}
    val s = spark; import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_wlsmodel").toString
    val (src, v) = (s"$root/src", s"$root/v")
    def batch(lo: Int, hi: Int) = (lo to hi).map { i =>
      val g = if (i % 2 == 0) "a" else "b"
      val x1 = i.toDouble; val x2 = ((i * 7) % 13).toDouble
      val w = 1.0 + (i % 4) * 0.25 // 2dp importance weights
      (i.toLong, g, x1, x2, w,
        2.0 + 3.0 * x1 - 0.5 * x2 + ((i * 31) % 5) / 10.0)
    }.toDF("id", "g", "x1", "x2", "w", "y")
    val cols = Seq("y", "x1", "x2")
    val wt = Some(("w", 2))
    Snapshots.commit(batch(1, 40), src, statsCol = Some("g"))
    IncrementalViews.refreshCorrMatrix(s, src, v, Seq("g"), cols, weight = wt)
    Snapshots.commit(batch(41, 80), src, statsCol = Some("g"))
    Snapshots.deleteWhere(s, src, col("id") % 10 === 3)
    IncrementalViews.refreshCorrMatrix(s, src, v, Seq("g"), cols, weight = wt)
    val served = IncrementalViews.readOlsModel(s, v, Seq("g"), cols,
      "y", Seq("x1", "x2"), weighted = true)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val fresh = Regression.olsFitBy(Snapshots.read(s, src), Seq("g"),
      "y", Seq("x1", "x2"), weight = wt)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(served == fresh) // double-for-double, not approximately
    assert(served.size == 6)
    // the weights actually matter: the unweighted fit differs
    val plain = Regression.olsFitBy(Snapshots.read(s, src), Seq("g"),
      "y", Seq("x1", "x2"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(plain != fresh)
  }

  test("streaming maintenance: the model rides its source's change feed") {
    import graft.sources.{IncrementalViews, Snapshots}
    val s = spark; import s.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_olsstream").toString
    val (src, v, ckpt) = (s"$root/src", s"$root/v", s"$root/ck")
    val cols = Seq("y", "x1", "x2")
    def batch(lo: Int, hi: Int) = (lo to hi).map { i =>
      val x1 = i.toDouble; val x2 = ((i * 7) % 13).toDouble
      (i.toLong, "g" + (i % 2), x1, x2, 1.0 + 2.0 * x1 + 0.25 * x2)
    }.toDF("id", "g", "x1", "x2", "y")
    Snapshots.commit(batch(1, 30), src, statsCol = Some("g"))
    def maintainModel() =
      IncrementalViews.maintain(spark, Seq(src), ckpt) { () =>
        IncrementalViews.refreshCorrMatrix(spark, src, v, Seq("g"), cols); ()
      }
    maintainModel().awaitTermination()
    def servedEqualsFresh(): Unit = {
      val served = IncrementalViews.readOlsModel(spark, v, Seq("g"), cols,
        "y", Seq("x1", "x2")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      val fresh = Regression.olsFitBy(Snapshots.read(spark, src), Seq("g"),
        "y", Seq("x1", "x2")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      assert(served == fresh)
    }
    servedEqualsFresh()
    Snapshots.commit(batch(31, 60), src, statsCol = Some("g"))
    Snapshots.deleteWhere(spark, src, col("id") % 7 === 2)
    maintainModel().awaitTermination()
    servedEqualsFresh()
  }

  test("fitEvalHoldout: disjoint deterministic split; a perfect model stays perfect out of sample") {
    val s = spark; import s.implicits._
    // planted exact model over ids that land in BOTH split buckets
    val df = (1 to 200).map { i =>
      val x1 = i.toDouble; val x2 = ((i * 7) % 13).toDouble
      (i.toLong, x1, x2, 2.0 + 3.0 * x1 - 0.5 * x2)
    }.toDF("id", "x1", "x2", "y")
    val row = Regression.fitEvalHoldout(df, "id", "y", Seq("x1", "x2")).head()
    assert(row.getAs[Double]("rmse") == 0.0)
    assert(row.getAs[Double]("r2") == 1.0)
    val nTest = row.getAs[Double]("n")
    assert(nTest > 0 && nTest < 200) // a real held-out set, not all rows
    // the test leg sees only the held-out rows: n(train) + n(test) = total
    val inSample = Regression.fitEval(df, "y", Seq("x1", "x2")).head()
    assert(inSample.getAs[Double]("n") == 200.0)
  }

  test("weighted fit == unweighted fit over the weight-expanded frame") {
    val s = spark; import s.implicits._
    // integer weights 1..3: the weighted moments are EXACTLY the
    // unweighted moments of the row-replicated frame, so the
    // coefficients must be equal, not approximately
    val rows = (1 to 50).map { i =>
      val x1 = i.toDouble; val x2 = ((i * 7) % 13).toDouble
      val noise = ((i * 31) % 7 - 3) / 100.0
      (x1, x2, 2.0 + 3.0 * x1 - 0.5 * x2 + noise, (i % 3 + 1).toDouble)
    }
    val compact = rows.toDF("x1", "x2", "y", "w")
    val expanded = rows.flatMap { case (x1, x2, y, w) =>
      Seq.fill(w.toInt)((x1, x2, y)) }.toDF("x1", "x2", "y")
    val weighted = Regression.olsFitBy(compact, Nil, "y", Seq("x1", "x2"),
        weight = Some(("w", 0)))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val plain = Regression.olsFit(expanded, "y", Seq("x1", "x2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(weighted == plain)
    // weight 1 everywhere == the unweighted fit
    val ones = Regression.olsFitBy(compact.withColumn("w", lit(1.0)), Nil,
        "y", Seq("x1", "x2"), weight = Some(("w", 0)))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val unweighted = Regression.olsFit(compact, "y", Seq("x1", "x2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ones == unweighted)
  }

  test("fitEvalBy: per-group metrics — perfect groups score 1, noisy groups don't") {
    val s = spark; import s.implicits._
    val df = (1 to 60).flatMap { i =>
      val x1 = i.toDouble; val x2 = ((i * 7) % 13).toDouble
      val noise = if (i % 2 == 0) 0.0 else ((i * 31) % 5 - 2) / 1.0
      Seq(("exact", x1, x2, 2.0 + 3.0 * x1 - 0.5 * x2),
          ("noisy", x1, x2, 2.0 + 3.0 * x1 - 0.5 * x2 + noise))
    }.toDF("g", "x1", "x2", "y")
    val out = Regression.fitEvalBy(df, Seq("g"), "y", Seq("x1", "x2"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("rmse"), r.getAs[Double]("r2"),
          r.getAs[Double]("n"))).toMap
    assert(out("exact") == ((0.0, 1.0, 60.0)))
    assert(out("noisy")._1 > 0.0 && out("noisy")._2 < 1.0)
    assert(out("noisy")._3 == 60.0)
  }

  test("logisticFit: recovers a planted model, beats the null loss, scores monotonically") {
    val s = spark; import s.implicits._
    def sigma(z: Double) = 1.0 / (1.0 + math.exp(-z))
    // planted p = sigma(-1 + 2x); labels from a deterministic
    // pseudo-uniform so the test is reproducible
    val rows = (1 to 600).map { i =>
      val x = ((i % 21) - 10) / 2.0
      val u = ((i * 2654435761L) % 1000003).toDouble / 1000003.0
      (x, if (u < sigma(-1.0 + 2.0 * x)) 1.0 else 0.0)
    }
    val df = rows.toDF("x", "y").cache()
    val (betas, loss) = Regression.logisticFit(df, "y", Seq("x"))
    val m = betas.toMap
    assert(math.abs(m("intercept") - (-1.0)) < 0.4, m.toString)
    assert(math.abs(m("x") - 2.0) < 0.5, m.toString)
    // fitted loss beats the intercept-only (null) model's entropy
    val rate = rows.map(_._2).sum / rows.size
    val nullLoss = -(rate * math.log(rate) + (1 - rate) * math.log(1 - rate))
    assert(loss < nullLoss)
    // scoring is a shuffle-free monotone projection
    val scored = Regression.predictProba(df.select("x"), betas, Seq("x"))
    assert(!scored.queryExecution.executedPlan.toString.contains("Exchange"))
    val ps = scored.orderBy("x").select("p").as[Double].collect()
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b })
    df.unpersist()
  }

  test("logisticFit fits complete cases only: NULL rows change nothing") {
    val s = spark; import s.implicits._
    def base = (1 to 200).map { i =>
      val x = ((i % 21) - 10) / 2.0
      val u = ((i * 2654435761L) % 1000003).toDouble / 1000003.0
      (x, java.lang.Double.valueOf(
        if (u < 1.0 / (1.0 + math.exp(1.0 - 2.0 * x))) 1.0 else 0.0))
    }
    val clean = base.toDF("x", "y")
    val withNulls = base.toDF("x", "y")
      .union(Seq((1.5, null.asInstanceOf[java.lang.Double]),
        (-0.5, null.asInstanceOf[java.lang.Double])).toDF("x", "y"))
    val (b1, l1) = Regression.logisticFit(clean, "y", Seq("x"))
    val (b2, l2) = Regression.logisticFit(withNulls, "y", Seq("x"))
    assert(b1 == b2 && l1 == l2) // NULL-label rows neither bias the
    // Hessian nor deflate the mean loss
  }

  test("logisticFitBy: per-group IRLS recovers each planted model independently") {
    val s = spark; import s.implicits._
    def sigma(z: Double) = 1.0 / (1.0 + math.exp(-z))
    // group "a": p = sigma(-1 + 2x); group "b": p = sigma(1 - 1.5x)
    val rows = (1 to 600).flatMap { i =>
      val x = ((i % 21) - 10) / 2.0
      val u = ((i * 2654435761L) % 1000003).toDouble / 1000003.0
      Seq(("a", x, if (u < sigma(-1.0 + 2.0 * x)) 1.0 else 0.0),
          ("b", x, if (u < sigma(1.0 - 1.5 * x)) 1.0 else 0.0))
    }
    val df = rows.toDF("g", "x", "y")
    val out = Regression.logisticFitBy(df, Seq("g"), "y", Seq("x"))
    val m = out.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(math.abs(m(("a", "intercept")) - (-1.0)) < 0.4, m.toString)
    assert(math.abs(m(("a", "x")) - 2.0) < 0.5, m.toString)
    assert(math.abs(m(("b", "intercept")) - 1.0) < 0.4, m.toString)
    assert(math.abs(m(("b", "x")) - (-1.5)) < 0.5, m.toString)
    // each group's fit equals the ungrouped fit over that group alone
    // (same complete-case IRLS, just batched across groups)
    val (soloA, lossA) = Regression.logisticFit(
      df.filter("g = 'a'"), "y", Seq("x"))
    val soloMap = soloA.toMap
    assert(math.abs(m(("a", "intercept")) - soloMap("intercept")) < 1e-6)
    assert(math.abs(m(("a", "x")) - soloMap("x")) < 1e-6)
    val lossOut = out.filter("g = 'a'").select("loss").head().getDouble(0)
    assert(math.abs(lossOut - lossA) < 1e-9)
    // a singular group fails loudly NAMING the group
    val degen = (1 to 50).map(i => ("bad", 1.0, (i % 2).toDouble)) ++
      (1 to 200).map { i =>
        val x = ((i % 21) - 10) / 2.0
        val u = ((i * 2654435761L) % 1000003).toDouble / 1000003.0
        ("ok", x, if (u < sigma(-1.0 + 2.0 * x)) 1.0 else 0.0)
      }
    val e = intercept[IllegalArgumentException] {
      Regression.logisticFitBy(degen.toDF("g", "x", "y"), Seq("g"),
        "y", Seq("x"))
    }
    assert(e.getMessage.contains("bad"), e.getMessage)
  }

  test("logisticFit: ridge keeps perfectly separable classes finite") {
    val s = spark; import s.implicits._
    val df = (1 to 100).map { i =>
      val x = (i - 50.5) / 10.0
      (x, if (x > 0) 1.0 else 0.0)
    }.toDF("x", "y")
    val (betas, _) = Regression.logisticFit(df, "y", Seq("x"), ridge = 1.0)
    val m = betas.toMap
    assert(m("x") > 0.0 && m("x").isFinite && m("intercept").isFinite)
  }

  test("OLS fits complete cases only: NULL rows change nothing") {
    val s = spark; import s.implicits._
    def j(d: Double) = java.lang.Double.valueOf(d)
    val nd = null.asInstanceOf[java.lang.Double]
    val base = (1 to 40).map { i =>
      val x1 = i.toDouble; val x2 = ((i * 7) % 13).toDouble
      (j(x1), j(x2), j(2.0 + 3.0 * x1 - 0.5 * x2))
    }
    val clean = base.toDF("x1", "x2", "y")
    // NULLs in every role: label, each feature
    val withNulls = (base ++ Seq((j(5.0), j(1.0), nd),
      (nd, j(2.0), j(9.0)), (j(3.0), nd, j(7.0)))).toDF("x1", "x2", "y")
    val f1 = Regression.olsFit(clean, "y", Seq("x1", "x2")).collect().toSeq
    val f2 = Regression.olsFit(withNulls, "y", Seq("x1", "x2")).collect().toSeq
    assert(f1 == f2) // __n no longer counts rows whose sums skipped
    val e1 = Regression.fitEval(clean, "y", Seq("x1", "x2")).head()
    val e2 = Regression.fitEval(withNulls, "y", Seq("x1", "x2")).head()
    assert(e1 == e2 && e1.getAs[Double]("n") == 40.0)
  }

  test("fitEvalBy keeps the NULL-key group (null-safe join), matching momentsBy") {
    val s = spark; import s.implicits._
    val df = (1 to 40).flatMap { i =>
      val x1 = i.toDouble; val x2 = ((i * 7) % 13).toDouble
      Seq((Option("a"), x1, x2, 2.0 + 3.0 * x1 - 0.5 * x2),
          (Option.empty[String], x1, x2, -1.0 + 0.5 * x1 + 4.0 * x2))
    }.toDF("g", "x1", "x2", "y")
    val out = Regression.fitEvalBy(df, Seq("g"), "y", Seq("x1", "x2"))
      .collect().map(r => Option(r.getString(0)) ->
        (r.getAs[Double]("n"), r.getAs[Double]("r2"))).toMap
    assert(out.keySet == Set(Some("a"), None)) // NULL group present
    assert(out(None) == ((40.0, 1.0)))         // and scored by ITS model
    assert(out(Some("a")) == ((40.0, 1.0)))
  }

  test("predict survives non-finite stored coefficients (no SQL-text parse)") {
    val s = spark; import s.implicits._
    val df = Seq((2.0), (3.0)).toDF("x1")
    // a NaN/Infinity beta interpolated into SQL text used to fail
    // expr() with an unresolved identifier; lit(beta) represents it
    val out = Regression.predict(df,
      Seq("intercept" -> Double.NaN, "x1" -> Double.PositiveInfinity),
      Seq("x1")).select("yhat").collect()
    assert(out.length == 2) // plans + executes; no parse exception
  }

  test("metric residual scales derive from max(yScale, predScale): exactness holds off-default") {
    // predScale=6 > the old hardcoded assumption; a perfect 6dp fit
    // must still score exactly (0, 0, 1)
    val row = Regression.fitEval(planted, "y", Seq("x1", "x2"),
      yScale = 3, predScale = 6).head()
    assert(row.getAs[Double]("rmse") == 0.0)
    assert(row.getAs[Double]("mae") == 0.0)
    assert(row.getAs[Double]("r2") == 1.0)
  }

  test("notebook closure: per-area price model fits on the feature frame") {
    val frame = operators.FeatureMatrix.hourlyFrame(
      Tables.events(spark, sf("sf0.001")))
    val out = Regression.olsFitBy(frame, Seq("area"), "price",
      Seq("consumption", "sunlight", "wind")).collect()
    assert(out.length == 8) // 2 areas x (intercept + 3 terms)
    assert(out.forall(r => !r.isNullAt(2) && !r.getDouble(2).isNaN))
  }
}
