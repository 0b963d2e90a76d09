package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Hash sampling/sharding, decontamination, and sequence packing. */
class CorpusOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("sampleByHash: disjoint bands partition the corpus, decisions are stable") {
    val df = (0L until 500L).toDF("id")
    val a = Ops.sampleByHash(df, "id", 0.0, 0.3).select("id").collect().map(_.getLong(0)).toSet
    val b = Ops.sampleByHash(df, "id", 0.3, 1.0).select("id").collect().map(_.getLong(0)).toSet
    assert(a.intersect(b).isEmpty)
    assert(a.union(b).size == 500)
    // roughly proportional (uniform 60-bit hash)
    assert(a.size > 100 && a.size < 200)
    // re-derivation yields the identical set (pure function of the id)
    val a2 = Ops.sampleByHash(df.repartition(7), "id", 0.0, 0.3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a2 == a)
  }

  test("sampleKPerGroup: exactly min(k, |group|) rows, selection is a pure function of the data") {
    val df = (0L until 300L).map(i => (i, s"g${i % 3}")).toDF("id", "g")
      .union(Seq((300L, "tiny")).toDF("id", "g"))
    val out = Ops.sampleKPerGroup(df, Seq("g"), "id", 7)
    val sizes = out.groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes == Map("g0" -> 7L, "g1" -> 7L, "g2" -> 7L, "tiny" -> 1L))
    // partitioning-independent: the same SET comes back on any layout
    val a = out.select("id").collect().map(_.getLong(0)).toSet
    val b = Ops.sampleKPerGroup(df.repartition(11), Seq("g"), "id", 7)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    // the selection is the k smallest idHash60 values of each group
    val firstG0 = df.filter($"g" === "g0")
      .withColumn("h", Ops.idHash60($"id"))
      .orderBy($"h", $"id").limit(7).select("id").collect().map(_.getLong(0)).toSet
    assert(a.intersect(firstG0) == firstG0)
    intercept[IllegalArgumentException](Ops.sampleKPerGroup(df, Seq("g"), "id", 0))
    intercept[IllegalArgumentException](Ops.sampleKPerGroup(df, Nil, "id", 5))
    intercept[IllegalArgumentException](
      Ops.sampleKPerGroup(df.withColumn("__graft_rn", lit(1)), Seq("g"), "id", 5))
  }

  test("sampleByHash: band edges round-to-nearest ties-away, matching SQL CAST") {
    // 1e-9 * 2^60 = 1152921504.606847 — truncation and rounding disagree by
    // one; the plan must carry the ROUNDED value so a re-deriving engine
    // (CAST(1e-9 * pow(2,60) AS BIGINT)) draws the same boundary.
    val df = Seq(1L).toDF("id")
    val plan = Ops.sampleByHash(df, "id", 0.0, 1e-9).queryExecution.analyzed.toString
    val space = math.pow(2.0, 60)
    val rounded = math.floor(1e-9 * space + 0.5).toLong
    val truncated = (1e-9 * space).toLong
    assert(rounded == truncated + 1) // the regime where the two differ
    assert(plan.contains(rounded.toString))
    // exact .5 tie (f = 5/2^61 → f*2^60 = 2.5): SQL CAST rounds ties AWAY
    // from zero (DuckDB CAST(2.5 AS BIGINT) = 3); rint's half-to-even would
    // give 2 — pin the ties-away edge
    val tieF = 5.0 / math.pow(2.0, 61)
    assert(tieF * space == 2.5)
    val tiePlan = Ops.sampleByHash(df, "id", 0.0, tieF).queryExecution.analyzed.toString
    assert(tiePlan.contains(" 3)") || tiePlan.contains("< 3"), tiePlan)
  }

  test("shardByHash: complete, deterministic, within range") {
    val df = (0L until 300L).toDF("id")
    val shards = Ops.shardByHash(df, "id", 7).select("id", "shard")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shards.size == 300)
    assert(shards.values.forall(s => s >= 0 && s < 7))
    val again = Ops.shardByHash(df.repartition(3), "id", 7).select("id", "shard")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == shards)
  }

  test("contaminationPairs: embedded eval doc flags, unrelated does not") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "completely different training text about distributed query engines here")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "gamma delta epsilon zeta eta theta"), // all 4 shingles inside doc 1
      (200L, "unrelated benchmark item with its own words entirely")
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationPairs(corpus, eval, "doc_id", "text", n = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((1L, 100L)))
  }

  test("contaminationPairs: containment is eval-sided (long train doc still flags)") {
    val long = (1 to 50).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, long + " needle one two three four five")).toDF("doc_id", "text")
    val eval = Seq((9L, "needle one two three four five")).toDF("doc_id", "text")
    val out = Dedup.contaminationPairs(corpus, eval, "doc_id", "text", n = 3, threshold = 0.9)
    assert(out.count() == 1) // Jaccard would be ~4/56, containment is 1.0
  }

  test("contaminationPairs: duplicated corpus rows do not inflate containment past 1.0") {
    val row = (1L, "alpha beta gamma delta epsilon zeta")
    val corpus = Seq(row, row).toDF("doc_id", "text") // e.g. overlapping unioned shards
    val eval = Seq((9L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val out = Dedup.contaminationPairs(corpus, eval, "doc_id", "text", n = 3, threshold = 0.9)
      .collect()
    assert(out.length == 1 && out.head.getDouble(3) == 1.0)
  }

  test("packSequences: greedy bins with boundary straddle") {
    val docs = Seq(
      (0L, 1L, 400L), (0L, 2L, 400L), (0L, 3L, 400L), // bin 0: 0,400,800(straddles)
      (0L, 4L, 100L),                                  // starts at 1200 -> bin 1
      (1L, 1L, 2000L), (1L, 2L, 10L)                   // own shard: bins 0,1 (2000>budget)
    ).toDF("shard", "doc_id", "n_tokens")
    val out = Pack.packSequences(docs, "shard", "doc_id", "n_tokens", budget = 1000L)
      .select("shard", "doc_id", "bin")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      (0L, 1L) -> 0L, (0L, 2L) -> 0L, (0L, 3L) -> 0L, (0L, 4L) -> 1L,
      (1L, 1L) -> 0L, (1L, 2L) -> 2L))
  }

  test("topKPerKey: k best per group, deterministic tie-break") {
    val df = Seq(("a", 1L, 10L), ("a", 2L, 30L), ("a", 3L, 30L), ("a", 4L, 20L),
      ("b", 5L, 1L)).toDF("k", "id", "score")
    val out = Ops.topKPerKey(df, Seq("k"), Seq(col("score").desc, col("id").asc), 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out == Set(2L, 3L, 5L)) // ties at 30 break by id; b keeps its only row
  }

  test("packSequences plans a partitioned window (no single global sort)") {
    val docs = Seq((0L, 1L, 10L)).toDF("shard", "doc_id", "n_tokens")
    val plan = Pack.packSequences(docs, "shard", "doc_id", "n_tokens", 100L)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("windowspecdefinition(shard"))
  }

  test("takeTopMass: boundary row included, one-survivor floor, exact rational test") {
    // group A: weights 50/30/20 in score order → p=1/2: row1 (prior 0) and
    // row2 (prior 50·2 = 100 ≥ 100? NO — 100 < 100 false) → only row1...
    // prior·pDen < tot·pNum: row2 prior=50, 50·2=100 !< 100·1 → excluded.
    // group B: uniform 10×4, p=1/2: rows survive while prior·2 < 40·1 →
    // priors 0,10 → two rows.
    val df = Seq(
      ("A", 1L, 9L, 50L), ("A", 2L, 8L, 30L), ("A", 3L, 7L, 20L),
      ("B", 4L, 9L, 10L), ("B", 5L, 8L, 10L), ("B", 6L, 7L, 10L), ("B", 7L, 6L, 10L),
      ("C", 8L, 1L, 100L) // single row: always survives (prior 0)
    ).toDF("g", "id", "score", "w")
    val got = Ops.takeTopMass(df, Seq("g"), "id", "score", "w", 1, 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("A", 1L), ("B", 4L), ("B", 5L), ("C", 8L)))
    // boundary-crossing row IS included: A with p=3/5 → row1 (prior 0) and
    // row2 (prior 50·5=250 < 100·3=300) survive; row3 (prior 80·5=400) not
    val p35 = Ops.takeTopMass(df.filter($"g" === "A"), Seq("g"), "id", "score", "w", 3, 5)
      .collect().map(_.getLong(1)).toSet
    assert(p35 == Set(1L, 2L))
    // null score/weight rows drop without affecting neighbors' totals
    val withNull = df.unionByName(Seq(("A", 9L, Option.empty[Long], Option(5L)))
      .toDF("g", "id", "score", "w"))
    val gotN = Ops.takeTopMass(withNull, Seq("g"), "id", "score", "w", 1, 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(gotN == got)
    val rep = Ops.takeTopMass(df.repartition(5), Seq("g"), "id", "score", "w", 1, 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rep == got)
  }

  test("negativeSample: bucket-count invariant, deterministic, no self-pairs, ≤k per anchor") {
    val ids = (1L to 97L).toDF("id")
    def run(buckets: Int) = Ops.negativeSample(ids, "id", k = 3, seed = 7L, buckets = buckets)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val base = run(256)
    // the ring successor is defined on the 2^60 space, so the bucket cut is
    // pure implementation: 1 bucket (wrap-only path) and 4 buckets
    // (fallthrough-heavy) must produce the identical pairing
    assert(run(1) == base && run(4) == base)
    assert(base.nonEmpty && base.forall { case (a, _, n) => a != n && n >= 1L && n <= 97L })
    assert(base.groupBy(_._1).forall(_._2.size <= 3))
    // pure function of (id, j, seed): repartitioning changes nothing
    val rep = Ops.negativeSample(ids.repartition(13), "id", 3, 7L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rep == base)
    // a different seed re-pairs (not a constant function)
    val other = Ops.negativeSample(ids, "id", 3, 8L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(other != base)
    intercept[IllegalArgumentException](Ops.negativeSample(ids, "id", 3, 7L, buckets = 3))
  }

  test("upsert: latest wins, delta wins ord ties, tombstone deletes, inserts land") {
    val cur = Seq((1L, 10L, "a", false), (2L, 10L, "b", false), (3L, 10L, "c", false))
      .toDF("k", "ord", "v", "dead")
    val del = Seq(
      (1L, 20L, "a2", false), // newer version: update
      (2L, 10L, "b2", false), // SAME ord as current: delta must win
      (3L, 20L, "x", true),   // tombstone: key deleted
      (4L, 5L, "d", false)    // new key: insert
    ).toDF("k", "ord", "v", "dead")
    val out = Ops.upsert(cur, del, Seq("k"), "ord", tombstoneCol = Some("dead"))
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a2", 2L -> "b2", 4L -> "d"))
    // without the tombstone column the retraction row is just a version
    val keep = Ops.upsert(cur, del, Seq("k"), "ord")
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(keep == Map(1L -> "a2", 2L -> "b2", 3L -> "x", 4L -> "d"))
    // an older delta version does not clobber a newer current row
    val old = Ops.upsert(cur, Seq((1L, 5L, "stale", false)).toDF("k", "ord", "v", "dead"),
        Seq("k"), "ord", tombstoneCol = Some("dead"))
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(old(1L) == "a")
  }

  test("scd2FromChangelog: runs collapse, null attr is a value, open current interval") {
    val log = Seq(
      (1L, 10L, Some("red")), (1L, 20L, Some("red")),   // restatement suppressed
      (1L, 30L, Some("blue")),                          // change
      (1L, 40L, None), (1L, 50L, None),                 // null run = one interval
      (1L, 60L, Some("blue")),                          // re-change back
      (2L, 15L, Some("solo"))                           // single version
    ).toDF("k", "ts", "attr")
    val out = Ops.scd2FromChangelog(log, Seq("k"), "ts", Seq("attr"))
      .orderBy("k", "valid_from")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(out.toSeq == Seq(
      (1L, Some("red"), 10L, Some(30L)),
      (1L, Some("blue"), 30L, Some(40L)),
      (1L, None, 40L, Some(60L)),
      (1L, Some("blue"), 60L, None),
      (2L, Some("solo"), 15L, None)))
    // partitioning-independent
    val again = Ops.scd2FromChangelog(log.repartition(7), Seq("k"), "ts", Seq("attr"))
      .orderBy("k", "valid_from")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(again.toSeq == out.toSeq)
  }

  test("decontaminate: n-gram collisions flagged with distinct counts; clean docs absent") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps over")).toDF("id", "text")
    val train = Seq(
      (1L, "a sentence with the quick brown fox inside it"), // shares 2 distinct 3-grams... compute below
      (2L, "completely disjoint wording here throughout"),
      (3L, "the quick brown fox jumps over the lazy dog"),   // shares many
      (4L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val out = Dedup.decontaminate(train, "id", "text", bench, "text", n = 3)
      .collect().map(r => r.getAs[Long]("train_id") -> r.getAs[Long]("n_hits")).toMap
    // bench 3-grams: {the quick brown, quick brown fox, brown fox jumps, fox jumps over}
    // doc 1 contains: "the quick brown", "quick brown fox" -> 2
    // doc 3 contains all 4
    assert(out == Map(1L -> 2L, 3L -> 4L))
    // higher n sharpens: at n=5 doc 1 shares nothing, doc 3 shares 2
    val out5 = Dedup.decontaminate(train, "id", "text", bench, "text", n = 5)
      .collect().map(r => r.getAs[Long]("train_id") -> r.getAs[Long]("n_hits")).toMap
    assert(out5 == Map(3L -> 2L))
  }

  test("containmentPairs: embedded snippet flags on the small side where Jaccard would not") {
    import spark.implicits._
    val snippet = "alpha beta gamma delta epsilon zeta"  // 4 3-shingles
    val article = snippet + " eta theta iota kappa lambda mu nu xi omicron pi rho sigma"
    val docs = Seq((1L, snippet), (2L, article),
      (3L, "totally different words compose this other document here")).toDF("id", "text")
    val out = Dedup.containmentPairs(docs, "id", "text",
        n = 3, thrNum = 8, thrDen = 10, maxDf = 10)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r).toMap
    assert(out.keySet == Set((1L, 2L)))
    val r = out((1L, 2L))
    // all 4 snippet shingles inside the article: containment 1.0 on side a
    assert(r.getAs[Long]("inter") == 4L && r.getAs[Long]("n_a") == 4L)
    assert(r.getAs[Long]("cont_a_micro") == 1000000L)
    assert(r.getAs[Long]("cont_b_micro") < 300000L) // Jaccard-style symmetric view is small
    // raising the threshold past the larger direction drops the pair
    assert(Dedup.containmentPairs(docs, "id", "text", 3, 101, 100, 10).count() == 0L)
  }

  test("apportion: exact Hamilton allocation - sums to budget, within one of ideal") {
    import spark.implicits._
    // exact proportions: 5/3/2 of 10 need no remainder distribution
    val even = Seq(("a", 5L), ("b", 3L), ("c", 2L)).toDF("src", "w")
    val e = Pack.apportion(even, Seq("src"), "w", 10L).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("alloc")).toMap
    assert(e == Map("a" -> 5L, "b" -> 3L, "c" -> 2L))
    // equal remainders: floors 3+3+3, one leftover unit -> smallest key
    val tie = Seq(("x", 1L), ("y", 1L), ("z", 1L)).toDF("src", "w")
    val t = Pack.apportion(tie, Seq("src"), "w", 10L).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("alloc")).toMap
    assert(t == Map("x" -> 4L, "y" -> 3L, "z" -> 3L))
    // token-mass weights past 2^53 (double-unsafe) and near-2^63 products:
    // the Decimal(38,0) path must stay exact — 40/60 split, sum == budget
    val huge = Seq(("p", 4000000000000000L), ("q", 6000000000000000L))
      .toDF("src", "w")
    val h = Pack.apportion(huge, Seq("src"), "w", 100L).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("alloc")).toMap
    assert(h == Map("p" -> 40L, "q" -> 60L))
    // multi-row groups pre-aggregate; zero-weight group rides along with 0;
    // Σalloc == budget and every alloc within one of its ideal share
    val mixed = Seq(("a", 7L), ("a", 6L), ("b", 1L), ("z", 0L), ("c", 9L))
      .toDF("src", "w").repartition(3)
    val rows = Pack.apportion(mixed, Seq("src"), "w", 17L).collect()
      .map(r => (r.getString(0), r.getAs[Long]("w"), r.getAs[Long]("alloc")))
    assert(rows.map(_._3).sum == 17L)
    val wt = rows.map(_._2).sum.toDouble
    assert(rows.forall { case (_, w, a) => math.abs(a - 17L * w / wt) <= 1.0 })
    assert(rows.find(_._1 == "z").get._3 == 0L)
  }

  test("apportionCapped: clamp-and-redistribute cascade, budget exact, infeasible visible") {
    // equal weights, budget 90: uncapped share is 30 each. cap(a)=10
    // binds in round 1; the redistributed 40-each then BINDS cap(b)=35
    // in round 2 — a genuine cascade; c absorbs the rest.
    val df = Seq(("a", 100L, 10L), ("b", 100L, 35L), ("c", 100L, 999L))
      .toDF("src", "w", "cap")
    val r = Pack.apportionCapped(df, Seq("src"), "w", "cap", budget = 90L,
        rounds = 4)
      .collect().map(x => x.getString(0) ->
        (x.getAs[Boolean]("capped"), x.getAs[Long]("alloc"))).toMap
    assert(r("a") == (true, 10L) && r("b") == (true, 35L))
    assert(r("c") == (false, 45L)) // 90 - 10 - 35
    assert(r.values.map(_._2).sum == 90L)
    // extra rounds are idempotent at the fixpoint
    val r8 = Pack.apportionCapped(df, Seq("src"), "w", "cap", 90L, rounds = 8)
      .orderBy("src").collect().map(_.toSeq).toSeq
    assert(r8 == Pack.apportionCapped(df, Seq("src"), "w", "cap", 90L, 4)
      .orderBy("src").collect().map(_.toSeq).toSeq)
    // infeasible budget: everything caps, the shortfall stays VISIBLE
    val inf = Pack.apportionCapped(df, Seq("src"), "w", "cap", budget = 5000L,
        rounds = 4)
      .collect().map(x => (x.getAs[Boolean]("capped"), x.getAs[Long]("alloc")))
    assert(inf.forall(_._1) && inf.map(_._2).sum == 10L + 35L + 999L)
    // per-row caps aggregate (1-per-row = group size) and never overshoot
    val rows = ((1 to 6).map(i => ("x", 1L, 1L)) ++
      (1 to 2).map(i => ("y", 9L, 1L))).toDF("src", "w", "cap")
    val g = Pack.apportionCapped(rows, Seq("src"), "w", "cap", budget = 7L,
        rounds = 3)
      .collect().map(x => x.getString(0) -> x.getAs[Long]("alloc")).toMap
    assert(g("y") == 2L && g("x") == 5L) // y wants ~5 of 7 but holds 2 rows
    // deterministic under repartitioning
    val rep = Pack.apportionCapped(df.repartition(5), Seq("src"), "w", "cap",
        90L, 4).orderBy("src").collect().map(_.toSeq).toSeq
    assert(rep == r8)
  }

  test("neymanAllocation: diverse strata out-draw big constant ones, budget exact") {
    // stratum a: 100 CONSTANT rows (σ = 0 — one draw tells all);
    // stratum b: 10 rows alternating 0/10 (σ ≈ 5.27, N·σ ≈ 53);
    // stratum c: 4 rows alternating 0/20 (σ ≈ 11.5, N·σ ≈ 46)
    val rows = (1 to 100).map(i => ("a", 7.0)) ++
      (1 to 10).map(i => ("b", if (i % 2 == 0) 10.0 else 0.0)) ++
      (1 to 4).map(i => ("c", if (i % 2 == 0) 20.0 else 0.0)) ++
      Seq(("d", 3.0)) // single row: σ undefined -> weight 0
    val df = rows.toDF("src", "v")
    val r = Pack.neymanAllocation(df, Seq("src"), "v", budget = 99L)
      .collect().map(x => x.getString(0) ->
        (x.getAs[Long]("n_rows"), x.getAs[Long]("sd_micro"),
          x.getAs[Long]("w"), x.getAs[Long]("alloc"))).toMap
    // budget lands exactly, all of it on the two diverse strata
    assert(r.values.map(_._4).sum == 99L)
    assert(r("a")._4 == 0L && r("d")._4 == 0L)
    // hand σ: b has 5 zeros/5 tens -> var = 250/9, σ = 5.27046…
    assert(r("b")._2 == math.round(math.sqrt(250.0 / 9) * 1e6))
    assert(r("b")._1 == 10L && r("d")._2 == 0L)
    // Neyman: alloc ∝ N·σ -> b/(b+c) of 99
    val (wb, wc) = (r("b")._3.toDouble, r("c")._3.toDouble)
    assert(math.abs(r("b")._4 - 99 * wb / (wb + wc)) <= 1.0)
    // deterministic under repartitioning (exact sums, integer Hamilton)
    val rep = Pack.neymanAllocation(df.repartition(7), Seq("src"), "v", 99L)
      .orderBy("src").collect().map(_.toSeq).toSeq
    assert(rep == Pack.neymanAllocation(df, Seq("src"), "v", 99L)
      .orderBy("src").collect().map(_.toSeq).toSeq)
  }
}
