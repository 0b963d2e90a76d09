package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Mirrors the reference's `test_func.py` Animals fixture — now with real
  * assertions, including the documented null-semantics divergences
  * (SURVEY §2.2.2: we use SQL three-valued logic, not numpy-NaN). */
class OpsSpec extends SparkTestBase {
  import spark.implicits._

  private def animals = Seq(
    ("Falcon", 380.0), ("Falcon", 370.0), ("Parrot", 24.0),
    ("Parrot", 26.0), ("Goose", 60.0)
  ).toDF("animal", "max_speed")

  test("filters: all eight ops compile and select correctly") {
    assert(Ops.filters(animals, ("animal", "=", "Falcon")).count() == 2)
    assert(Ops.filters(animals, ("animal", "==", "Falcon")).count() == 2)
    assert(Ops.filters(animals, ("animal", "!=", "Falcon")).count() == 3)
    assert(Ops.filters(animals, ("max_speed", "<", 26.0)).count() == 1)
    assert(Ops.filters(animals, ("max_speed", "<=", 26.0)).count() == 2)
    assert(Ops.filters(animals, ("max_speed", ">", 370.0)).count() == 1)
    assert(Ops.filters(animals, ("max_speed", ">=", 370.0)).count() == 2)
    assert(Ops.filters(animals, ("animal", "in", Seq("Falcon", "Goose"))).count() == 3)
    assert(Ops.filters(animals, ("animal", "not in", Seq("Falcon", "Goose"))).count() == 2)
  }

  test("filters: conjunctive list ANDs predicates (ops.py:34-42 semantics)") {
    val out = Ops.filters(animals, Seq(("animal", "=", "Parrot"), ("max_speed", ">", 24.0)))
    assert(rowSet(out) == Set(Seq("Parrot", 26.0)))
  }

  test("filters: SQL null semantics — != and not-in DROP nulls (divergence from reference)") {
    val withNull = Seq(Some("a"), Some("b"), None).toDF("v")
    assert(Ops.filters(withNull, ("v", "!=", "a")).count() == 1)          // ref would keep null
    assert(Ops.filters(withNull, ("v", "not in", Seq("a"))).count() == 1) // ref would keep null
  }

  test("filters: unknown op raises") {
    intercept[IllegalArgumentException] { Ops.predicate("a", "~", 1) }
  }

  test("filters: extension ops — is null / not null / between / like / rlike") {
    val df = Seq(Some("alpha"), Some("beta"), None).toDF("v")
    assert(Ops.filters(df, ("v", "is null", null)).count() == 1)
    assert(Ops.filters(df, ("v", "not null", null)).count() == 2)
    assert(Ops.filters(df, ("v", "like", "a%")).count() == 1)
    assert(Ops.filters(df, ("v", "rlike", "^(al|be)")).count() == 2)
    val nums = Seq(1, 5, 10).toDF("n")
    assert(Ops.filters(nums, ("n", "between", Seq(2, 10))).count() == 2)
    intercept[IllegalArgumentException] { Ops.predicate("n", "between", Seq(1)) }
  }

  test("dropDuplicates keep=any: one row per key, subset of input") {
    val out = Ops.dropDuplicates(animals, Seq("animal"))
    assert(out.count() == 3)
    assert(out.select("animal").distinct().count() == 3)
    assert(rowSet(out).subsetOf(rowSet(animals)))
  }

  test("dropDuplicates keep=first/last: deterministic by explicit order") {
    val first = Ops.dropDuplicates(animals, Seq("animal"), "first", Seq(col("max_speed")))
    assert(rowSet(first) == Set(Seq("Falcon", 370.0), Seq("Parrot", 24.0), Seq("Goose", 60.0)))
    val last = Ops.dropDuplicates(animals, Seq("animal"), "last", Seq(col("max_speed")))
    assert(rowSet(last) == Set(Seq("Falcon", 380.0), Seq("Parrot", 26.0), Seq("Goose", 60.0)))
  }

  test("dropDuplicates keep=drop: removes every row of keys with count>1 (ops.py:57-58)") {
    val out = Ops.dropDuplicates(animals, Seq("animal"), "drop")
    assert(rowSet(out) == Set(Seq("Goose", 60.0)))
  }

  test("dropDuplicates keep=first without ordering raises") {
    intercept[IllegalArgumentException] {
      Ops.dropDuplicates(animals, Seq("animal"), "first")
    }
  }

  test("topK returns k rows in order") {
    val out = Ops.topK(animals, 2, Seq(col("max_speed").desc))
    assert(rowList(out) == Seq(Seq("Falcon", 380.0), Seq("Falcon", 370.0)))
  }

  test("sortSmall: runs above an exchange, fails on a broadcast join straight over a parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sortsmall").toString
    animals.write.parquet(s"$dir/animals")
    val scan = spark.read.parquet(s"$dir/animals")
    val sizes = Seq(("Falcon", "large"), ("Parrot", "small"), ("Goose", "large")).toDF("animal", "size")
    // aggregate-bounded: the coalesce sits above the aggregate's exchange
    val agg = scan.groupBy("animal").agg(max("max_speed").as("top"))
    assert(Ops.sortSmall(agg, col("animal")).collect().map(_.getString(0)).toSeq ==
      Seq("Falcon", "Goose", "Parrot"))
    // a broadcast join has no exchange on its streamed side, so the coalesce
    // would read the whole scan in one task
    val joined = scan.join(broadcast(sizes), Seq("animal"))
    val err = intercept[IllegalArgumentException](Ops.sortSmall(joined, col("animal")))
    assert(err.getMessage.contains("Scan parquet"), err.getMessage)
  }

  test("sample: seeded, reproducible, subset of input") {
    val big = spark.range(1000).toDF("id")
    val a = Ops.sample(big, 0.1, seed = 7).collect().map(_.getLong(0)).toSet
    val b = Ops.sample(big, 0.1, seed = 7).collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty && a.size < 1000)
  }

  test("describe: summary rows for numeric columns") {
    val d = Ops.describe(animals, "max_speed").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d("count") == "5" && d("min") == "24.0" && d("max") == "380.0")
  }

  test("melt: wide to long inverts a pivot; plan is Expand, not explode") {
    import spark.implicits._
    val wide = Seq((1L, 10L, 20L), (2L, 30L, 40L)).toDF("id", "a", "b")
    val long = Ops.melt(wide, Seq("id"), Seq("a", "b"), "k", "v")
    assert(long.columns.toSeq == Seq("id", "k", "v"))
    val got = long.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "a", 10L), (1L, "b", 20L), (2L, "a", 30L), (2L, "b", 40L)))
    // melt(pivot(x)) round-trips to x (on the dense grid)
    val back = long.groupBy("id").pivot("k", Seq("a", "b")).sum("v")
    assert(back.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      == Set((1L, 10L, 20L), (2L, 30L, 40L)))
    // shape check: native unpivot plans an Expand (no generator/explode)
    val plan = long.queryExecution.optimizedPlan.toString
    assert(plan.contains("Expand") && !plan.contains("Generate"))
  }

  test("skylinePerGroup: dominance exact, equal points both survive via level max") {
    val pts = Seq(
      ("a", 1L, 10L), ("a", 2L, 9L), ("a", 3L, 9L), ("a", 3L, 1L),
      ("a", 4L, 9L), ("a", 5L, 5L),
      // group b: strictly increasing -> only the last point survives
      ("b", 1L, 1L), ("b", 2L, 2L), ("b", 3L, 3L),
      // group c: negative axes exercise floorDiv on negatives
      ("c", -7L, -1L), ("c", -3L, -5L), ("c", -3L, -9L))
      .toDF("g", "x", "y").repartition(4)
    val got = Ops.skylinePerGroup(pts, "g", "x", "y", bucketWidth = 2L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // a: (3,9) dominated by (4,9); (2,9) by (4,9); (3,1) by the level max
    assert(got == Set(("a", 1L, 10L), ("a", 4L, 9L), ("a", 5L, 5L),
      ("b", 3L, 3L), ("c", -7L, -1L), ("c", -3L, -5L)))
    // bucket width must not change the frontier
    val wide = Ops.skylinePerGroup(pts, "g", "x", "y", bucketWidth = 1000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(wide == got)
  }

  test("sampleKPerGroup: exact quota, hash-order determinism, small groups whole") {
    val rows = (1L to 100L).map(i => (i, (i % 4L).toString)).toDF("id", "grp")
    val got = Ops.sampleKPerGroup(rows, Seq("grp"), "id", k = 5)
    val byG = got.collect().map(r => r.getString(1) -> r.getLong(0))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byG.keySet == Set("0", "1", "2", "3"))
    assert(byG.values.forall(_.size == 5))
    // identical picks under a different partitioning
    val rep = Ops.sampleKPerGroup(rows.repartition(9), Seq("grp"), "id", 5)
      .collect().map(r => r.getString(1) -> r.getLong(0))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(rep == byG)
    // a group smaller than k survives whole
    val tiny = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "grp")
    assert(Ops.sampleKPerGroup(tiny, Seq("grp"), "id", 5).count() == 3)
  }

  test("weightedSampleKPerGroup: quota, determinism, weight bias, guard rails") {
    // w alternates WITHIN each id%4 group (keyed on i/4), half 9s half 1s
    val rows = (1L to 1000L).map(i =>
      (i, i % 4L, if ((i / 4) % 2 == 0) 9L else 1L)).toDF("id", "grp", "w")
    val got = Ops.weightedSampleKPerGroup(rows, Seq("grp"), "id", "w", k = 25)
    val byG = got.collect().map(r => r.getLong(1) -> r.getLong(0))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byG.keySet == Set(0L, 1L, 2L, 3L) && byG.values.forall(_.size == 25))
    // partition invariance (nano-quantized key, id tie-break)
    val rep = Ops.weightedSampleKPerGroup(rows.repartition(9), Seq("grp"),
        "id", "w", 25)
      .collect().map(r => r.getLong(1) -> r.getLong(0))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(rep == byG)
    // weight bias: weight-9 rows (half the population) should dominate
    // the sample — E[share] = 90%, assert a loose 60% floor
    val heavy = got.filter(col("w") === 9L).count()
    assert(heavy > 60, s"expected weight bias, got $heavy/100 heavy rows")
    // null / non-positive weights can never be drawn, and neither can a
    // null-id row (ADVICE r12: it used to sort last under a null key and
    // sneak into under-full groups) — group 9 has ONE valid row, k = 1000
    val withBad = rows.union(Seq((2000L, 0L, 0L), (2001L, 0L, -5L))
        .toDF("id", "grp", "w"))
      .union(Seq[(Option[Long], Long, Long)]((None, 9L, 7L), (Some(3000L), 9L, 7L))
        .toDF("id", "grp", "w"))
    val ids = Ops.weightedSampleKPerGroup(withBad, Seq("grp"), "id", "w", 1000)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(2000L) && !ids.contains(2001L) && ids.size == 1001)
    assert(ids.contains(3000L)) // the null-id neighbor is unaffected
    // reserved output name is refused, not overwritten
    intercept[IllegalArgumentException] {
      Ops.weightedSampleKPerGroup(rows.withColumn("key_nano", col("id")),
        Seq("grp"), "id", "w", 5)
    }
  }

  test("splitByGroupHash: group-atomic, deterministic, cut-validated") {
    val rows = (1L to 400L).map(i => (i, i % 40L)).toDF("id", "grp")
    val s1 = Ops.splitByGroupHash(rows, "grp",
      Seq("train" -> 0.8, "holdout" -> 1.0))
    // every group lands wholly in ONE split — the leakage-safety invariant
    val perGroup = s1.groupBy("grp")
      .agg(countDistinct(col("split")).as("n")).collect()
    assert(perGroup.forall(_.getLong(1) == 1L))
    // deterministic under repartitioning and re-evaluation
    val a = s1.collect().map(r => (r.getLong(0), r.getString(2))).toSet
    val b = Ops.splitByGroupHash(rows.repartition(7), "grp",
        Seq("train" -> 0.8, "holdout" -> 1.0))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(a == b)
    // both sides populated at 40 groups / 80-20 cuts
    val sizes = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == Set("train", "holdout") && sizes.values.forall(_ > 0))
    // three-way cuts cover every row exactly once
    val s3 = Ops.splitByGroupHash(rows, "grp",
      Seq("train" -> 0.8, "val" -> 0.9, "test" -> 1.0))
    assert(s3.count() == 400L && s3.filter(col("split").isNull).count() == 0L)
    // a null key falls in the LAST cut (CASE else semantics, documented)
    val withNull = Seq((1L, Some(3L)), (2L, None)).toDF("id", "grp")
    val ns = Ops.splitByGroupHash(withNull, "grp",
        Seq("train" -> 0.8, "holdout" -> 1.0))
      .filter(col("grp").isNull).head()
    assert(ns.getString(2) == "holdout")
    // validation: cuts must end at 1.0, increase, and be uniquely named
    intercept[IllegalArgumentException] {
      Ops.splitByGroupHash(rows, "grp", Seq("train" -> 0.8))
    }
    intercept[IllegalArgumentException] {
      Ops.splitByGroupHash(rows, "grp", Seq("a" -> 0.9, "b" -> 0.2, "c" -> 1.0))
    }
    intercept[IllegalArgumentException] {
      Ops.splitByGroupHash(rows, "grp", Seq("a" -> 0.5, "a" -> 1.0))
    }
    // a pre-existing 'split' column is refused, never silently overwritten
    intercept[IllegalArgumentException] {
      Ops.splitByGroupHash(rows.withColumn("split", col("id")), "grp",
        Seq("train" -> 0.8, "holdout" -> 1.0))
    }
  }

  test("targetEncodeByFold: own fold excluded, densified cells, prior refusal rules") {
    val df = (1L to 120L).map(i => (i, if (i % 3 == 0) "a" else "b", i.toDouble))
      .toDF("id", "cat", "y")
    val k = 4
    val enc = Ops.targetEncodeByFold(df, "cat", "y", "id", k, priorCount = 0L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getAs[Long]("n_oof"),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // densified: every (cat, fold) cell exists
    assert(enc.size == 2 * k)
    // re-derive the expected out-of-fold means from the SAME fold rule
    val folded = Ops.foldByGroupHash(df, "id", k)
      .collect().map(r => (r.getString(1), r.getLong(3), r.getDouble(2)))
    for (c <- Seq("a", "b"); f <- 0 until k) {
      val oof = folded.filter(x => x._1 == c && x._2 != f).map(_._3)
      assert(enc((c, f.toLong))._1 == oof.length.toLong)
      val exp = math.round(oof.sum * 1e6 / oof.length)
      assert(enc((c, f.toLong))._2.contains(exp),
        s"cell ($c, $f): ${enc((c, f.toLong))} vs $exp")
      // the leak check: the out-of-fold mean must differ from the
      // all-rows mean whenever the fold actually holds rows of c
      val all = folded.filter(_._1 == c).map(_._3)
      if (all.length != oof.length)
        assert(exp != math.round(all.sum * 1e6 / all.length) ||
          oof.sum / oof.length == all.sum / all.length)
    }
    // smoothing pulls toward the fold-excluded global prior
    val sm = Ops.targetEncodeByFold(df, "cat", "y", "id", k, priorCount = 1000L)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(3))).toMap
    for (f <- 0 until k) {
      val g = folded.filter(_._2 != f).map(_._3)
      val gMean = g.sum / g.length
      // heavy prior: both categories' encodings approach the same prior
      assert(math.abs(sm(("a", f.toLong)) - math.round(gMean * 1e6)) < 30000000L)
      assert(math.abs(sm(("a", f.toLong)) - sm(("b", f.toLong))) < 5000000L)
    }
    // deterministic under repartitioning (hash folds, exact sums)
    val rep = Ops.targetEncodeByFold(df.repartition(7), "cat", "y", "id", k)
      .orderBy("cat", "fold").collect().map(_.toSeq).toSeq
    assert(rep == Ops.targetEncodeByFold(df, "cat", "y", "id", k)
      .orderBy("cat", "fold").collect().map(_.toSeq).toSeq)
  }

  test("splitByTime: exclusive bounds, null ts to tail, no future in train, guarded") {
    val rows = Seq((1L, Some(10L)), (2L, Some(99L)), (3L, Some(100L)),
      (4L, Some(150L)), (5L, Some(200L)), (6L, Some(250L)), (7L, None))
      .toDF("id", "ts")
    val s = Ops.splitByTime(rows, "ts", Seq("train" -> 100L, "val" -> 200L))
    val m = s.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // bounds are EXCLUSIVE upper: ts=100 is NOT train, ts=200 is NOT val
    assert(m(1L) == "train" && m(2L) == "train")
    assert(m(3L) == "val" && m(4L) == "val")
    assert(m(5L) == "holdout" && m(6L) == "holdout")
    // null ts falls into the tail (CASE else semantics, documented)
    assert(m(7L) == "holdout")
    // the leakage invariant: zero training rows at/after the boundary
    assert(s.filter(col("split") === "train" && col("ts") >= 100L).count() == 0L)
    // custom tail name
    val t = Ops.splitByTime(rows, "ts", Seq("past" -> 100L), tailName = "future")
    assert(t.filter(col("split") === "future").count() == 5L)
    // guards: increasing bounds, distinct names (incl. tail), no collision
    intercept[IllegalArgumentException] {
      Ops.splitByTime(rows, "ts", Seq("a" -> 200L, "b" -> 100L))
    }
    intercept[IllegalArgumentException] {
      Ops.splitByTime(rows, "ts", Seq("a" -> 100L), tailName = "a")
    }
    intercept[IllegalArgumentException] {
      Ops.splitByTime(rows.withColumn("split", col("id")), "ts",
        Seq("train" -> 100L))
    }
    intercept[IllegalArgumentException] {
      Ops.splitByTime(rows, "ts", Seq.empty)
    }
  }

  test("sampleByFractions: per-group rates, subset stability, edge fractions, absent groups") {
    val rows = (1L to 900L).map(i => (i, (i % 3).toString)).toDF("id", "grp")
    val fr = Seq(("0", 0.5), ("1", 0.1), ("2", 1.0)).toDF("grp", "fraction")
    // NB: the equi-join puts the group key first -> columns (grp, id)
    val got = Ops.sampleByFractions(rows, Seq("grp"), "id", fr)
    val byG = got.collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // fraction 1.0 keeps everything; rates land near the target
    assert(byG("2") == (1L to 900L).filter(_ % 3 == 2).toSet)
    assert(math.abs(byG("0").size - 150) < 60 && math.abs(byG("1").size - 30) < 25)
    // per-row fate: the 0.1 sample is a SUBSET of the 0.5 sample (nested
    // bands), and deterministic under repartitioning
    val fr01 = Seq(("0", 0.1), ("1", 0.1), ("2", 0.1)).toDF("grp", "fraction")
    val s01 = Ops.sampleByFractions(rows, Seq("grp"), "id", fr01)
      .collect().map(_.getLong(1)).toSet
    val fr05 = Seq(("0", 0.5), ("1", 0.5), ("2", 0.5)).toDF("grp", "fraction")
    val s05 = Ops.sampleByFractions(rows.repartition(9), Seq("grp"), "id", fr05)
      .collect().map(_.getLong(1)).toSet
    assert(s01.subsetOf(s05))
    // fraction 0 admits nothing; a group absent from the table is dropped
    val frPart = Seq(("0", 0.0), ("1", 0.3)).toDF("grp", "fraction")
    val part = Ops.sampleByFractions(rows, Seq("grp"), "id", frPart)
      .select("grp").distinct().collect().map(_.getString(0)).toSet
    assert(part == Set("1"))
    intercept[IllegalArgumentException] {
      Ops.sampleByFractions(rows, Seq("grp"), "id", fr.withColumnRenamed("fraction", "f"))
    }
    // a pre-existing 'fraction' column on the fact side is refused, not
    // silently shadowed into an ambiguous join
    intercept[IllegalArgumentException] {
      Ops.sampleByFractions(rows.withColumn("fraction", col("id")),
        Seq("grp"), "id", fr)
    }
  }

  test("foldByGroupHash: fold-atomic groups, full coverage, deterministic, guarded") {
    val rows = (1L to 400L).map(i => (i, i % 40L)).toDF("id", "grp")
    val f5 = Ops.foldByGroupHash(rows, "grp", k = 5)
    // every group lands wholly in ONE fold — a planted near-dup pair
    // (same component key) can never straddle any leave-one-out boundary
    val perGroup = f5.groupBy("grp")
      .agg(countDistinct(col("fold")).as("n")).collect()
    assert(perGroup.forall(_.getLong(1) == 1L))
    // folds cover [0, k) and each is populated at 40 groups / 5 folds
    val sizes = f5.groupBy("fold").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(sizes.map(_._1).toSet.subsetOf((0L until 5L).toSet))
    assert(sizes.map(_._1).toSet.size >= 4 && sizes.map(_._2).forall(_ > 0))
    assert(f5.count() == 400L && f5.filter(col("fold").isNull).count() == 0L)
    // deterministic under repartitioning; fold 0..k-2 agree with the
    // splitByGroupHash cuts at the same band edges (the shared contract)
    val a = f5.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val b = Ops.foldByGroupHash(rows.repartition(7), "grp", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(a == b)
    // a null key falls in the LAST fold (CASE else semantics, documented)
    val withNull = Seq((1L, Some(3L)), (2L, None)).toDF("id", "grp")
    val nf = Ops.foldByGroupHash(withNull, "grp", 3)
      .filter(col("grp").isNull).head()
    assert(nf.getLong(2) == 2L)
    // guards: k bounds and reserved output name
    intercept[IllegalArgumentException] { Ops.foldByGroupHash(rows, "grp", 1) }
    intercept[IllegalArgumentException] {
      Ops.foldByGroupHash(rows.withColumn("fold", col("id")), "grp", 5)
    }
  }
}
