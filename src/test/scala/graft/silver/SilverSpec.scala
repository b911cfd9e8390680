package graft.silver

import graft.SparkSuite
import org.apache.spark.sql.functions._

class SilverSpec extends SparkSuite {
  import spark.implicits._

  test("maskCardNumber keeps only last 4") {
    val df = Seq("4123456789012345").toDF("card")
    val out = df.select(Masking.maskCardNumber($"card").as("m")).head.getString(0)
    assert(out === "****-****-****-2345")
  }

  test("tokenize is deterministic and normalizing") {
    val df = Seq(("  Alice Smith ", "alice smith")).toDF("a", "b")
    val r = df.select(
      Masking.tokenize($"a").as("ta"), Masking.tokenize($"b").as("tb")).head
    assert(r.getString(0) === r.getString(1))
    assert(r.getString(0).length === 64) // sha-256 hex
  }

  test("redactAllButLast masks all but last n") {
    val df = Seq("123456789").toDF("x")
    assert(df.select(Masking.redactAllButLast($"x", 4)).head.getString(0) === "*****6789")
  }

  test("quality split partitions the input (valid ∪ quarantine == input, disjoint)") {
    val df = Seq(
      (Some(1L), 10.0, "ok"),
      (None, 10.0, "null-id"),
      (Some(3L), -5.0, "neg"),
      (Some(4L), 0.0, "zero")
    ).toDF("id", "amount", "tag")
    val rules = Seq(
      Quality.Rule("null_id", $"id".isNotNull),
      Quality.Rule("non_positive_amount", $"amount" > 0))
    val (valid, quar) = Quality.split(df, rules)
    assert(valid.count() + quar.count() === df.count())
    assert(valid.join(quar, Seq("tag"), "inner").count() === 0)
    val reasons = quar.select("tag", "quarantine_reason").as[(String, String)].collect().toMap
    assert(reasons === Map("null-id" -> "null_id", "neg" -> "non_positive_amount",
      "zero" -> "non_positive_amount"))
  }

  test("enrich lookup + buckets + score") {
    val df = Seq(("a", 5.0), ("b", 50.0), ("zz", 500.0)).toDF("k", "v")
    val out = df.select(
      Enrich.lookup($"k", Seq("a" -> "Alpha", "b" -> "Beta"), "Other").as("cat"),
      Enrich.buckets($"v", Seq(10.0 -> "small", 100.0 -> "medium"), "large").as("bucket"),
      Enrich.additiveScore(Seq(($"v" > 1.0, 30), ($"v" > 100.0, 25))).as("score")
    ).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("Alpha", "Beta", "Other"))
    assert(out.map(_.getString(1)).toSeq === Seq("small", "medium", "large"))
    assert(out.map(_.getInt(2)).toSeq === Seq(30, 30, 55))
  }

  test("merge upsert: source wins, insert otherwise, idempotent on replay") {
    val target = Seq((1L, "t1"), (2L, "t2"), (3L, "t3")).toDF("id", "v")
    val source = Seq((2L, "s2"), (4L, "s4")).toDF("id", "v")
    val once = Merge.upsert(target, source, Seq("id"))
    val got = once.as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, "t1"), (2L, "s2"), (3L, "t3"), (4L, "s4")))
    // replay: applying the same source to the merged result changes nothing
    val twice = Merge.upsert(once, source, Seq("id"))
    assert(twice.as[(Long, String)].collect().sortBy(_._1).toSeq === got.toSeq)
  }

  test("merge upsert dedupes intra-batch duplicate keys deterministically") {
    val target = Seq((1L, "t1")).toDF("id", "v")
    val source = Seq((1L, "s1b"), (1L, "s1a"), (2L, "s2")).toDF("id", "v")
    val got = Merge.upsert(target, source, Seq("id")).as[(Long, String)]
      .collect().sortBy(_._1)
    // one row per key survives; the min-by-non-key-columns row wins
    assert(got.toSeq === Seq((1L, "s1a"), (2L, "s2")))
  }
}
