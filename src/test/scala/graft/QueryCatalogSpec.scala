package graft

class QueryCatalogSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"

  test("every catalog query runs and returns rows on sf0.001") {
    CatalogSweep.results(dir).foreach { case (name, swept) =>
      val n = swept.rows.fold(e => throw e, identity)
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle keys are a subset of query keys") {
    val qk = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qk))
  }

  test("q1 aggregates are consistent") {
    val df = QueryCatalog.q1PricingSummary.fn(spark, dir)
    val rows = df.collect()
    assert(rows.length === 6) // 3 returnflags x 2 linestatus
    rows.foreach { r =>
      val sumQty = r.getAs[Double]("sum_qty")
      val cnt = r.getAs[Long]("count_order")
      val avg = r.getAs[Double]("avg_qty")
      assert(math.abs(sumQty / cnt - avg) < 1e-3)
      assert(r.getAs[Long]("n_orders") <= cnt)
    }
  }

  test("q99 HLL: union of partial sketches matches whole-data sketch; ~5% accuracy") {
    val dir = "/root/testdata/sf0.001"
    val rows = QueryCatalog.queries("q99_hll_merge")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val e = Tables.load(spark, dir, "events")
    val exactAll = e.select("user_id").distinct().count().toDouble
    val mergedEst = rows("__ALL__").toDouble
    assert(math.abs(mergedEst - exactAll) / exactAll < 0.05,
      s"merged estimate $mergedEst vs exact $exactAll")
    // merging partials must equal sketching the whole dataset directly
    val wholeEst = e.selectExpr("hll_sketch_estimate(hll_sketch_agg(user_id, 12)) AS est")
      .head.getLong(0).toDouble
    assert(mergedEst === wholeEst, "sketch union is lossless vs whole-data sketch")
  }

  test("q4 topk is sorted descending and unique-keyed") {
    val rows = QueryCatalog.q4TopK.fn(spark, dir).collect()
    assert(rows.length === 10)
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.sameElements(prices.sortBy(-_)))
  }

  test("q115 approx percentiles track q47 exact percentiles within sketch tolerance") {
    val exact = QueryCatalog.queries("q47_percentiles")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = QueryCatalog.queries("q115_approx_percentiles")(spark, dir).collect()
    assert(approx.length === exact.size)
    approx.foreach { a =>
      val e = exact(a.getString(0))
      assert(a.getAs[Long]("n") === e.getAs[Long]("n"), "counts are exact either way")
      Seq("p50", "p90", "p99").foreach { c =>
        val ev = e.getAs[Double](c)
        val av = a.getAs[Double](c)
        // accuracy=1000 bounds rank error at n/1000; on this data that is
        // well under 5% relative value error for all three quantiles
        assert(math.abs(av - ev) / ev < 0.05, s"$c: approx=$av exact=$ev")
      }
    }
  }

  test("q119 approx profile tracks q86 exact distinct counts within 5%") {
    val exact = QueryCatalog.queries("q86_profile")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_distinct")).toMap
    val approx = QueryCatalog.queries("q119_approx_profile")(spark, dir).collect()
    assert(approx.length === 4)
    approx.foreach { r =>
      val (c, a) = (r.getString(0), r.getAs[Long]("approx_nd"))
      val e = exact(c)
      assert(math.abs(a - e).toDouble / e <= 0.05, s"$c: approx=$a exact=$e")
    }
  }

  test("q114 fraud scoring: prediction is the 0.5-probability threshold") {
    val rows = QueryCatalog.queries("q114_fraud_scoring")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = r.getAs[Double]("fraud_probability")
      val pred = r.getAs[Int]("fraud_prediction")
      assert(p > 0.0 && p < 1.0)
      assert(pred === (if (p > 0.5) 1 else 0), s"p=$p pred=$pred")
      assert(r.getAs[String]("cardholder_token").length === 64)
    }
    // both classes must be represented, else the threshold is degenerate
    assert(rows.map(_.getAs[Int]("fraud_prediction")).distinct.length === 2)
  }

  test("q179's round bound covers the peel depth: the output IS the exact k-core") {
    // the fixed-round contract is only the EXACT 3-core while rounds ≥
    // peel depth (measured 12 at sf0.1, dial 16) — this guards the data
    // outgrowing the dial: no surviving node may sit below degree 3
    import org.apache.spark.sql.functions._
    val out = QueryCatalog.queries("q179_kcore")(spark, dir)
    assert(out.filter(col("degree") < 3).isEmpty,
      "a surviving node below k means the peel did not reach its fixpoint — raise CoreRounds")
  }
}
