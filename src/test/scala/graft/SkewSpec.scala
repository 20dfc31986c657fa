package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewSpec extends AnyFunSuite {
  import SparkTestSession._
  import operators.Skew

  test("salted aggregate equals plain aggregate") {
    import spark.implicits._
    val li = sources.Tables.lineitem(spark, sf)
    val salted = Skew.saltedAggregate(li, "l_returnflag", "l_quantity")
      .collect().map(r => (r.getString(0),
        math.round(r.getDouble(1) * 100), r.getLong(2))).toSet
    val plain = li.groupBy($"l_returnflag")
      .agg(sum($"l_quantity").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0),
        math.round(r.getDouble(1) * 100), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("temperature rates on a SKEWED source mix: cap, lpad, exact math") {
    import spark.implicits._
    // The fixture corpora have uniform per-source counts, so the
    // driver oracle only ever sees ONE rate value (0.4) — this drives
    // the skewed path p10/c04 document: distinct rates per source, the
    // rate >= 1.0 cap for a tiny source, and a sub-0x1000 threshold
    // (rate < 0.0625) whose hex needs lpad's leading zero.
    // 20000 two-doc sources dominate the mass, one single-doc source
    // hits the cap, one 50000-doc source lands deep sub-linear
    // (rate ∝ n^-0.3): the three regimes the uniform fixture never has
    import org.apache.spark.sql.functions.{concat => fconcat}
    val pairDocs = spark.range(0, 40000).select(
      fconcat(lit("s"), ($"id" / 2).cast("long").cast("string"))
        .as("source"), $"id".as("doc_id"))
    val oneDoc = Seq(("one", 1000000L)).toDF("source", "doc_id")
    val hugeDocs = spark.range(0, 50000).select(lit("huge").as("source"),
      ($"id" + 2000000L).as("doc_id"))
    val docs = pairDocs.unionByName(oneDoc).unionByName(hugeDocs)
    val rates = operators.Splits.temperatureRates(docs).localCheckpoint()
    val got = rates.filter($"source".isin("huge", "one", "s0"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // independent Scala derivation of the same quantized formula
    def w(n: Long) = math.floor(math.pow(n.toDouble, 0.7) * 1000000).toLong
    val tn = 40000L + 1L + 50000L
    val tw = 20000L * w(2) + w(1) + w(50000)
    def rate(n: Long) = math.min(1.0, 0.4 * tn * w(n) / tw / n)
    val want = Map("huge" -> (50000L, rate(50000)),
      "one" -> (1L, rate(1)), "s0" -> (2L, rate(2)))
    assert(got == want, s"rates diverge: $got vs $want")
    // the skew regime actually bites: the singleton is capped, the
    // dominant source is deep sub-linear
    assert(got("one")._2 == 1.0, "singleton source must hit the 1.0 cap")
    assert(got("huge")._2 < 0.0625,
      "huge source must land below 0x1000/65536 (lpad leading-zero path)")
    // the keep decision at the sub-0x1000 rate: threshold string must
    // be 4 chars with leading zeros, and the kept fraction must track
    // the rate (binomial bound, generous)
    val hugeRate = got("huge")._2
    val thresh = f"${math.floor(hugeRate * 65536).toLong}%04x"
    assert(thresh.length == 4 && thresh.startsWith("0"))
    val kept = docs.filter($"source" === "huge")
      .filter(operators.Splits.keepAtRate($"doc_id", ":tmp", lit(hugeRate)))
      .count()
    val expect = hugeRate * 50000
    assert(math.abs(kept - expect) < 6 * math.sqrt(expect) + 10,
      s"kept $kept vs expected ~$expect at rate $hugeRate")
  }

  test("stratifiedTake keeps a NULL-lang stratum (null-safe quota join)") {
    import spark.implicits._
    // SQL's `PARTITION BY lang` ranks the null group like any other;
    // a using-column quota join would silently drop it at the last
    // step. Compare against a driver-side derivation per stratum.
    val docs = spark.range(0, 300).select(
        $"id".as("doc_id"),
        when($"id" % 3 === 0, lit(null).cast("string"))
          .when($"id" % 3 === 1, lit("en")).otherwise(lit("fr")).as("lang"),
        md5($"id".cast("string")).as("h"))
      .localCheckpoint()
    val got = operators.Splits.stratifiedTake(docs, 0.2)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val want = docs.collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2)))
      .groupBy(_._2)
      .flatMap { case (_, rows) =>
        val quota = math.ceil(rows.length * 0.2).toInt
        rows.sortBy(r => (r._3, r._1)).take(quota).map(_._1).toSeq
      }.toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(want.size == 60 && got.size == 60) // 100 per stratum, 20 kept
  }

  test("AQE splits a runtime-detected skewed join (skew=true in final plan)") {
    import spark.implicits._
    // Thresholds lowered so test-sized data trips the same machinery
    // that handles real skew at 100 TB: one hot key holding 75% of the
    // left side must make OptimizeSkewedJoin split its partition.
    GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val left = spark.range(0, 200000).select(
        when($"id" < 150000, 0L).otherwise($"id").as("k"),
        lpad($"id".cast("string"), 64, "x").as("pad"))
      val right = spark.range(0, 1000).select($"id".as("k"),
        lit("r").as("rv"))
      val j = left.join(right, "k")
      // collect() executes j's OWN QueryExecution (count() would spawn
      // a separate one and leave this plan un-finalized)
      assert(j.collect().length == 150000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"OptimizeSkewedJoin did not split the hot partition:\n$plan")
    }
  }

  test("AQE coalesces a nearly-empty shuffle (AQEShuffleRead coalesced)") {
    import spark.implicits._
    // The complement of the skew split: a 5-group aggregate shuffled
    // over 32 partitions leaves ~27 empty — CoalesceShufflePartitions
    // must fold them at runtime (the reference sizes reducers at plan
    // time from stats; AQE does it from the ACTUAL map output, which is
    // what survives a 1000-executor cluster where stats lie).
    val df = sources.Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"))
    df.collect() // materialize so AQE finalizes the plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead coalesced"),
      s"expected coalesced shuffle read:\n$p")
  }

  test("salted join equals plain join") {
    import spark.implicits._
    val li = sources.Tables.lineitem(spark, sf)
    val sup = sources.Tables.supplier(spark, sf)
    val salted = Skew.saltedJoin(li, sup, "l_suppkey", "s_suppkey")
      .groupBy($"s_nationkey").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val plain = li.join(sup, $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_nationkey").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(salted == plain)
  }
}
