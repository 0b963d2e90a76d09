package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import org.apache.spark.sql.functions.col
import graft.operators.{Dedup, Joins, Ops}

/** Property-based invariants (SURVEY §5 strategy item 3), run by sbt's
  * built-in ScalaCheck framework. Kept to few, small cases — each property
  * evaluation runs real Spark jobs on the shared local session. */
object GraftProperties extends Properties("graft") {

  private lazy val spark = SparkTestBase.spark
  import scala.jdk.CollectionConverters._
  private def df(rows: List[(Int, Int)]) = {
    spark.sparkContext.setLogLevel("ERROR")
    spark.createDataFrame(rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.IntegerType))))
  }

  private val rowsGen = Gen.listOfN(25, Gen.zip(Gen.chooseNum(0, 6), Gen.chooseNum(-5, 5)))

  property("filters: output is a subset of input and every row satisfies the predicate") =
    forAll(rowsGen, Gen.chooseNum(-5, 5)) { (rows, t) =>
      val out = Ops.filters(df(rows), ("v", ">", t)).collect()
      out.forall(_.getInt(1) > t) &&
        out.map(r => (r.getInt(0), r.getInt(1))).forall(rows.contains)
    }

  property("dropDuplicates any: one row per key, rows drawn from input") =
    forAll(rowsGen) { rows =>
      val out = Ops.dropDuplicates(df(rows), Seq("k")).collect()
      val keys = out.map(_.getInt(0))
      keys.distinct.length == keys.length &&
        keys.toSet == rows.map(_._1).toSet &&
        out.map(r => (r.getInt(0), r.getInt(1))).forall(rows.contains)
    }

  property("inner join count = sum over keys of lc*rc") =
    forAll(rowsGen, rowsGen) { (l, r) =>
      val expected = l.groupBy(_._1).map { case (k, ls) =>
        ls.size.toLong * r.count(_._1 == k)
      }.sum
      Joins.join(df(l), df(r).withColumnRenamed("v", "v2"), Seq("k")).count() == expected
    }

  property("asofJoin backward: matched ts = max right ts <= left ts per key") =
    forAll(Gen.listOfN(12, Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 20L))),
           Gen.listOfN(12, Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 20L)))) { (l0, r0) =>
      import spark.implicits._
      val l = l0.distinct
      val r = r0.distinct // unique (key, ts) right side: the determinism contract
      val left = l.map { case (k, t) => (k, t, t * 10.0) }.toDF("k", "ts", "lv")
      val right = r.map { case (k, t) => (k, t, t * 100.0) }.toDF("k", "ts", "rv")
      val got = Joins.asofJoin(left, right, Seq("k"), "ts")
        .collect().map(row => (row.getLong(0), row.getLong(1)) ->
          Option(row.get(3)).map(_.asInstanceOf[Long])).toMap
      l.forall { case (k, t) =>
        val want = r.filter(p => p._1 == k && p._2 <= t).map(_._2).maxOption
        got((k, t)) == want
      }
    }

  property("substringDupSpans: planted shared block of length L measures exactly L") =
    forAll(Gen.chooseNum(10, 40), Gen.chooseNum(0, 30), Gen.chooseNum(0, 30)) {
      (blockLen, padA, padB) =>
        import spark.implicits._
        // disjoint filler alphabets: the ONLY shared content is the block
        val block = (0 until blockLen).map(i => s"s$i").mkString(" ")
        val a = ((0 until padA).map(i => s"a$i") :+ block) ++ (0 until 12).map(i => s"aa$i")
        val b = ((0 until padB).map(i => s"b$i") :+ block) ++ (0 until 12).map(i => s"bb$i")
        val d = Seq((0L, a.mkString(" ")), (1L, b.mkString(" "))).toDF("doc_id", "text")
        val out = Dedup.substringDupSpans(d, "doc_id", "text", k = 10, minRunTokens = 10)
          .collect()
        out.length == 1 && out.head.getLong(2) == blockLen.toLong
    }

  property("percentileDisc + modeExact: match in-memory sorted-rank / argmax definitions") =
    forAll(rowsGen, Gen.chooseNum(1, 99)) { (rows, pp) =>
      val p = pp / 100.0
      val g = graft.operators.Grouping.groupby(df(rows), Seq("k"))
      val gotP = g.percentileDisc("v", p, "pv").collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      val gotM = g.modeExact("v", "mv").collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      val byKey = rows.groupBy(_._1)
      val expP = byKey.map { case (k, vs) =>
        val sorted = vs.map(_._2).sorted
        // the operator's exact formula: value at rank max(1, ceil(p·n))
        k -> sorted(math.max(1L, math.ceil(p * sorted.size).toLong).toInt - 1)
      }
      val expM = byKey.map { case (k, vs) =>
        val counts = vs.groupBy(_._2).map { case (v, g2) => v -> g2.size }
        val mx = counts.values.max
        k -> counts.collect { case (v, c) if c == mx => v }.min
      }
      gotP == expP && gotM == expM
    }

  property("chunkSliding: chunk grid matches the start/length arithmetic; stride <= window covers every token") =
    forAll(Gen.chooseNum(1, 50), Gen.chooseNum(1, 12), Gen.chooseNum(1, 12)) { (n, w, s) =>
      // shrinking can step outside the generator bounds — degenerate values
      // are vacuously true (the operator require()s w, s >= 1; n = 0 is the
      // empty doc, spec-covered separately)
      n < 1 || w < 1 || s < 1 || {
      import spark.implicits._
      val doc = (1 to n).map(i => s"t$i").mkString(" ")
      val out = graft.operators.Pack
        .chunkSliding(Seq((1L, doc)).toDF("doc_id", "text"), "doc_id", "text", w, s)
        .select("chunk_start", "n_tok").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toList
      val stop = math.max(1, n - w + 1)
      val expect = ((1 to stop by s).toList :+ stop).distinct
        .map(st => (st.toLong, math.min(w, n - st + 1).toLong))
      val covered = expect.flatMap { case (st, len) => st until (st + len) }.toSet
      out == expect && (s > w || covered == (1L to n.toLong).toSet)
      }
    }

  property("pageRank: relational fixed-point equals a local integer replay") =
    forAll(Gen.listOfN(10, Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(0L, 5L)))) { edges0 =>
      val es = edges0.filter(e => e._1 != e._2).flatMap(e => Seq(e, e.swap)).distinct
      es.isEmpty || {
        import spark.implicits._
        val got = graft.operators.Graph.pageRank(es.toDF("src", "dst"), "src", "dst", 3)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // local replay of the EXACT recurrence (same double-floor transfers)
        val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
        val outdeg = es.groupBy(_._1).map { case (k, v) => k -> v.size }
        val base = math.floor(15000000.0 / (100 * nodes.size)).toLong
        var r = nodes.map(_ -> math.floor(1000000.0 / nodes.size).toLong).toMap
        for (_ <- 1 to 3) {
          val in = es.groupBy(_._2).map { case (v, in0) =>
            v -> in0.map { case (u, _) =>
              math.floor(r(u) * 85.0 / (100.0 * outdeg(u))).toLong }.sum
          }
          r = nodes.map(v => v -> (base + in.getOrElse(v, 0L))).toMap
        }
        got == r
      }
    }

  property("sampleWeighted: k >= #positive-weight rows returns exactly those rows") =
    forAll(rowsGen) { rows =>
      import spark.implicits._
      val ided = rows.zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
      val out = Ops.sampleWeighted(ided.toDF("id", "w"), "id", "w", 30)
        .collect().map(_.getLong(0)).toSet
      out == ided.filter(_._2 > 0).map(_._1).toSet
    }

  private val vecsGen =
    Gen.listOfN(5, Gen.listOfN(3, Gen.chooseNum(-3, 3)))

  private def qz(v: Array[Float]): Array[Long] = v.map(x => math.round(x * 1000).toLong)
  private def qcos(a: Array[Long], b: Array[Long]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
    dot / (math.sqrt(a.map(x => x * x).sum.toDouble) *
      math.sqrt(b.map(x => x * x).sum.toDouble))
  }

  property("embeddingNearDupPairsBetween: subset of exact threshold pairs; ids delta→corpus") =
    forAll(vecsGen, vecsGen) { (c0, d0) =>
      import spark.implicits._
      val corpus = c0.zipWithIndex.map { case (v, i) => (100L + i, v.map(_.toFloat).toArray) }
      val delta = d0.zipWithIndex.map { case (v, i) => (i.toLong, v.map(_.toFloat).toArray) }
      corpus.isEmpty || delta.isEmpty || {
        val ix = Dedup.embeddingIndex(corpus.toDF("vec_id", "embedding"),
          "vec_id", "embedding", signBits = 3)
        val got = Dedup.embeddingNearDupPairsBetween(delta.toDF("vec_id", "embedding"),
            ix, "vec_id", "embedding", threshold = 0.7)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        ix.release()
        // exact quantized-cosine replay (NaN for zero vectors ⇒ excluded,
        // matching the operator's SQL comparison semantics)
        val exact = (for { (di, dv) <- delta; (ci, cv) <- corpus
          if qcos(qz(dv), qz(cv)) >= 0.7 } yield (di, ci)).toSet
        got.subsetOf(exact) && got.forall { case (a, b) => a < 100L && b >= 100L }
      }
    }

  property("dedupedCorpusByEmbedding: exactly the min-id representative of each pair-graph component") =
    forAll(vecsGen) { vs0 =>
      import spark.implicits._
      val rows = vs0.zipWithIndex.map { case (v, i) => (i.toLong, v.map(_.toFloat).toArray) }
      rows.isEmpty || {
        val d = rows.toDF("vec_id", "embedding")
        val pairs = Dedup.embeddingNearDupPairs(d, "vec_id", "embedding",
            signBits = 3, threshold = 0.7)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val kept = Dedup.dedupedCorpusByEmbedding(d, "vec_id", "embedding",
            threshold = 0.7, signBits = 3)
          .collect().map(_.getLong(0)).toSet
        val parent = scala.collection.mutable.Map(rows.map(r => r._1 -> r._1): _*)
        def find(x: Long): Long =
          if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = rows.map(_._1).groupBy(find).values.map(_.min).toSet
        kept == expected
      }
    }

  property("connectedComponents: same component iff connected (vs union-find)") =
    forAll(Gen.listOfN(8, Gen.zip(Gen.chooseNum(0L, 9L), Gen.chooseNum(0L, 9L)))) { edges0 =>
      val edges = edges0.filter(e => e._1 != e._2)
      import spark.implicits._
      val pairs = edges.toDF("id_a", "id_b")
      val nodes = (0L to 9L).toDF("id")
      def got = Dedup.connectedComponents(pairs, nodes, "id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // one partition (the local union-find pass alone) and, with AQE
      // coalescing off, 4 partitions (the large-star/small-star loop)
      val single = got
      val multi = SparkTestBase.withSQLConf(
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(got)
      // reference union-find
      val parent = scala.collection.mutable.Map((0L to 9L).map(x => x -> x): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (0L to 9L).forall(x => single(x) == find(x) && multi(x) == find(x))
    }

  private def longDf(name: String, xs: List[Long]) = {
    spark.createDataFrame(xs.map(org.apache.spark.sql.Row(_)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(name,
          org.apache.spark.sql.types.LongType))))
  }

  property("rocAuc: flipping every label maps AUC to 1 - AUC (exact in the 2U statistic)") =
    forAll(Gen.listOfN(20, Gen.zip(Gen.chooseNum(0L, 9L), Gen.oneOf(true, false)))) { rows0 =>
      // force both classes present so AUC is defined
      val rows = (0L, true) :: (1L, false) :: rows0
      import spark.implicits._
      val d = rows.toDF("s", "y")
      val a = graft.operators.Stats.rocAuc(d, "s", "y", 3L).collect()(0)
      val b = graft.operators.Stats.rocAuc(
        d.withColumn("y", !col("y")), "s", "y", 3L).collect()(0)
      // 2U + 2U' = 2*P*N  (tie half-credits included)
      a.getAs[Long]("auc_num2") + b.getAs[Long]("auc_num2") ==
        2L * a.getAs[Long]("n_pos") * a.getAs[Long]("n_neg")
    }

  property("ksTest: symmetric in its two samples; zero against itself") =
    forAll(Gen.listOfN(12, Gen.chooseNum(0L, 8L)),
        Gen.listOfN(12, Gen.chooseNum(0L, 8L))) { (xs, ys) =>
      val (a, b) = (longDf("v", 0L :: xs), longDf("v", 1L :: ys))
      val ab = graft.operators.Stats.ksTest(a, b, "v", 2L).collect()(0).getAs[Long]("ks_micro")
      val ba = graft.operators.Stats.ksTest(b, a, "v", 2L).collect()(0).getAs[Long]("ks_micro")
      val aa = graft.operators.Stats.ksTest(a, a, "v", 2L).collect()(0).getAs[Long]("ks_micro")
      ab == ba && aa == 0L
    }

  property("spearman: invariant under any strictly increasing transform of either column") =
    forAll(Gen.listOfN(15, Gen.zip(Gen.chooseNum(0L, 9L), Gen.chooseNum(0L, 9L)))) { rows0 =>
      // guarantee both margins non-constant
      val rows = (0L, 0L) :: (9L, 9L) :: (3L, 7L) :: rows0
      import spark.implicits._
      val d = rows.toDF("x", "y")
      val base = graft.operators.Stats.spearman(d, "x", "y", 2L)
        .collect()(0).getAs[Long]("rho_micro")
      // x -> 3x + 1 and y -> y^2 (monotone on 0..9) preserve all ranks
      val t = d.selectExpr("x * 3 + 1 AS x", "y * y AS y")
      val trans = graft.operators.Stats.spearman(t, "x", "y", 2L)
        .collect()(0).getAs[Long]("rho_micro")
      base == trans
    }

  property("robustOutliers: outlier flags invariant under integer shift of the values") =
    forAll(Gen.listOfN(12, Gen.chooseNum(-20L, 20L)), Gen.chooseNum(-100L, 100L)) { (xs0, c) =>
      val xs = 0L :: xs0
      import spark.implicits._
      val d = xs.map(("g", _)).toDF("g", "v")
      val a = graft.operators.Stats.robustOutliers(d, "g", "v")
        .collect()(0).getAs[Long]("n_outliers")
      val b = graft.operators.Stats.robustOutliers(
        d.selectExpr("g", s"v + ($c) AS v"), "g", "v")
        .collect()(0).getAs[Long]("n_outliers")
      a == b
    }

  property("Ranks.positions/runningSums: equal global ranks for ANY bucket width, incl. degenerate") =
    forAll(Gen.listOfN(20, Gen.chooseNum(-50L, 50L)), Gen.oneOf(1L, 3L, 17L, 1000L)) { (vs0, w) =>
      import spark.implicits._
      val vs = vs0.distinct
      val d = vs.zipWithIndex.map { case (v, i) => (v, i.toLong) }.toDF("v", "id")
      val pos = graft.operators.Ranks.positions(d,
          graft.operators.Ranks.floorDiv(col("v"), w), Seq(col("v")), "p")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val sums = graft.operators.Ranks.runningSums(d,
          graft.operators.Ranks.floorDiv(col("v"), w), Seq(col("v")),
          Seq("v" -> "below"))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val sorted = vs.sorted
      vs.forall { v =>
        pos(v) == sorted.indexOf(v) + 1 &&
          sums(v) == sorted.takeWhile(_ < v).sum
      }
    }

  private val wordGen = Gen.chooseNum(1, 6)
    .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))

  property("WordPiece MaxMatch: pieces reconstruct the word, all in vocab; corpus words never UNK") =
    forAll(Gen.listOfN(6, wordGen), Gen.listOfN(5, wordGen),
        Gen.chooseNum(1, 4)) { (corpus0, probes, m) =>
      import spark.implicits._
      // guarantee at least one adjacent pair so train(m) has work
      val corpus = "abc" :: corpus0
      val docs = Seq((1L, corpus.mkString(" "))).toDF("id", "text")
      val merges = graft.operators.WordPiece.train(docs, "text", m)
      val vocabDf = graft.operators.WordPiece.vocabPieces(docs, "text", merges)
      val vocab = vocabDf.collect().map(_.getString(0)).toSet
      val words = (corpus ++ probes).distinct
      val segs = graft.operators.WordPiece.segmentWords(
          words.toDF("word"), vocabDf, maxPieceLen = 8)
        .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
      words.forall { w =>
        segs(w) match {
          case Some(s) =>
            val ps = s.split(" ")
            ps.forall(vocab.contains) &&
              ps.map(_.stripPrefix("##")).mkString == w &&
              ps.head.take(2) != "##"
          case None => !corpus.contains(w) // training words always segment
        }
      }
    }

  property("kruskalWallis at k=2 equals mannWhitney z^2 (both tie-corrected) within quantization") =
    forAll(Gen.listOfN(16, Gen.zip(Gen.oneOf("a", "b"), Gen.chooseNum(0L, 6L)))) { rows0 =>
      import spark.implicits._
      val rows = ("a", 0L) :: ("b", 1L) :: rows0
      val d = rows.toDF("g", "v")
      val z = graft.operators.Stats.mannWhitney(d, "g", "v", "a", "b")
        .collect()(0).getLong(3) / 1e6
      val h = graft.operators.Stats.kruskalWallis(d, "g", "v")
        .collect()(0).getAs[Long]("h_tie_micro") / 1e6
      // the classical identity H' = z'^2 for two groups; both sides carry
      // independent micro quantization (KW additionally quantizes its two
      // group terms before summing), so allow a small absolute slack
      math.abs(h - z * z) < 5e-4
    }

  property("mannWhitney: swapping the sides gives u2' = 2*na*nb - u2 and z' = -z (exact in micro)") =
    forAll(Gen.listOfN(18, Gen.zip(Gen.oneOf("a", "b"), Gen.chooseNum(0L, 8L)))) { rows0 =>
      import spark.implicits._
      // both sides non-empty and not all values tied, else z is null
      val rows = ("a", 0L) :: ("b", 1L) :: rows0
      val d = rows.toDF("g", "v")
      val ab = graft.operators.Stats.mannWhitney(d, "g", "v", "a", "b").collect()(0)
      val ba = graft.operators.Stats.mannWhitney(d, "g", "v", "b", "a").collect()(0)
      val (na, nb) = (ab.getLong(0), ab.getLong(1))
      ba.getLong(0) == nb && ba.getLong(1) == na &&
        ba.getLong(2) == 2L * na * nb - ab.getLong(2) &&
        ba.getLong(3) == -ab.getLong(3)
    }

  property("bfsHops: equals a local multi-source BFS on random digraphs") =
    forAll(Gen.listOfN(12, Gen.zip(Gen.chooseNum(0L, 7L), Gen.chooseNum(0L, 7L))),
        Gen.nonEmptyListOf(Gen.chooseNum(0L, 7L))) { (edges0, seeds0) =>
      import spark.implicits._
      val es = edges0.filter(e => e._1 != e._2).distinct
      val seeds = seeds0.distinct
      es.isEmpty || {
        val got = graft.operators.Graph.bfsHops(es.toDF("src", "dst"),
            "src", "dst", seeds.toDF("node"), "node", maxHops = 8)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // local frontier BFS over the same edge set
        val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
        var dist = seeds.map(_ -> 0L).toMap
        var frontier = seeds
        var h = 0L
        while (frontier.nonEmpty && h < 8) {
          h += 1
          val next = frontier.flatMap(n => adj.getOrElse(n, Nil))
            .distinct.filterNot(dist.contains)
          next.foreach(n => dist += n -> h)
          frontier = next
        }
        got == dist
      }
    }

  property("ingestRecent/ewmaHalfLife: any time-split fold equals the full-history readout") =
    forAll(Gen.listOfN(20, Gen.zip(Gen.chooseNum(0L, 3L), Gen.zip(
        Gen.chooseNum(0L, 30L), Gen.chooseNum(-9L, 9L)))), Gen.chooseNum(0L, 30L)) {
      (rows0, cut) =>
      import spark.implicits._
      // unique (key, ts) ids so the (ts, id) order is total
      val rows = rows0.zipWithIndex.map { case ((k, (t, v)), i) =>
        (k, t, i.toLong, v.toDouble) }
      rows.isEmpty || {
        val all = rows.toDF("k", "t", "id", "v")
        val hist = all.filter(col("t") < cut)
        val batch = all.filter(col("t") >= cut) // ids order after: t splits
        val st = graft.operators.Sequences.ingestRecent(
          graft.operators.Sequences.recentState(hist, "k", "t", "v", "id", 4),
          batch, "k", "t", "v", "id", 4)
        def read(d: org.apache.spark.sql.DataFrame) =
          graft.operators.Sequences.ewmaHalfLife(d, "k", "t", "v", "id", 4)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        read(st) == read(all)
      }
    }

  property("groupDiversity: sum identity equals the explicit ordered-pair mean") =
    forAll(Gen.listOfN(8, Gen.listOfN(3, Gen.chooseNum(-4, 4)))) { vecs0 =>
      import spark.implicits._
      val vecs = vecs0.map(_.map(_.toDouble).toArray)
        .filter(_.exists(_ != 0.0)) // operator excludes zero vectors
      vecs.size < 2 || {
        val got = graft.operators.Similarity.groupDiversity(
            vecs.map(("g", _)).toDF("g", "v"), "g", "v")
          .collect()(0).getLong(3)
        // HALF_UP away from zero, matching Spark/DuckDB round (math.round
        // rounds -x.5 toward +inf)
        def rnd(x: Double): Long =
          if (x < 0) -math.round(-x) else math.round(x)
        val u = vecs.map { a0 =>
          val a = a0.map(x => rnd(x * 1000).toDouble)
          val nn = math.sqrt(a.map(x => x * x).sum)
          a.map(x => rnd(x / nn * 1000))
        }
        val pairs = for (i <- u.indices; j <- u.indices if i != j)
          yield u(i).zip(u(j)).map { case (x, y) => x * y }.sum
        val want = rnd(
          pairs.sum.toDouble / pairs.length / 1000000.0 * 1e6)
        got == want
      }
    }

  property("splitByGroupHash: total cover, group-atomic, cuts agree with sampleByHash bands") =
    forAll(Gen.listOfN(20, Gen.zip(Gen.chooseNum(0, 6), Gen.chooseNum(-5, 5))),
           Gen.chooseNum(1, 9)) { (rows, tenths) =>
      import spark.implicits._
      val frac = tenths / 10.0
      val d = rows.zipWithIndex.map { case ((k, _), i) => (i.toLong, k.toLong) }
        .toDF("id", "grp")
      rows.isEmpty || {
        val out = Ops.splitByGroupHash(d, "grp",
          Seq("a" -> frac, "b" -> 1.0)).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        // every row labeled, each group wholly one label
        out.length == rows.length &&
          out.groupBy(_._2).values.forall(_.map(_._3).distinct.length == 1) &&
          // the 'a' side is exactly the groups sampleByHash keeps in [0, frac)
          out.filter(_._3 == "a").map(_._2).toSet ==
            Ops.sampleByHash(d.select("grp").distinct(), "grp", 0.0, frac)
              .collect().map(_.getLong(0)).toSet
      }
    }

  property("winsorizedMean: trim-0 is the exact mean; result bounded by group min/max") =
    forAll(Gen.listOfN(12, Gen.chooseNum(-50, 50)), Gen.chooseNum(0, 4)) { (vs, tp10) =>
      import spark.implicits._
      val trim = tp10 * 10 // 0, 10, 20, 30, 40
      vs.isEmpty || {
        val d = vs.zipWithIndex.map { case (v, i) => ("g", v.toDouble, i.toLong) }
          .toDF("g", "v", "id")
        val r = graft.operators.Stats.winsorizedMean(d, "g", "v", "id", trim).head()
        val micro = vs.map(_.toLong * 1000000L)
        val plainOk = trim != 0 ||
          (r.getLong(5) == micro.sum &&
            r.getLong(6) == math.round(micro.sum.toDouble / vs.length))
        plainOk && r.getLong(6) >= micro.min && r.getLong(6) <= micro.max &&
          r.getLong(3) <= r.getLong(4) // lo <= hi whenever trim < 50
      }
    }

  property("foldByGroupHash: k=2 equals the 0.5 splitByGroupHash cut; folds partition every k") =
    forAll(Gen.listOfN(20, Gen.chooseNum(0L, 40L)), Gen.chooseNum(2, 7)) { (grps, k) =>
      import spark.implicits._
      grps.isEmpty || {
        val d = grps.zipWithIndex.map { case (g, i) => (i.toLong, g) }
          .toDF("id", "grp")
        val folded = Ops.foldByGroupHash(d, "grp", k).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val atomic = folded.groupBy(_._2).values
          .forall(_.map(_._3).distinct.length == 1)
        val covered = folded.forall(f => f._3 >= 0 && f._3 < k)
        // the shared hashBandEdge contract: at k=2, fold 0 IS split "a"
        // under cuts (a -> 0.5, b -> 1.0)
        val two = Ops.foldByGroupHash(d, "grp", 2).collect()
          .map(r => r.getLong(0) -> r.getLong(2)).toMap
        val split = Ops.splitByGroupHash(d, "grp",
            Seq("a" -> 0.5, "b" -> 1.0)).collect()
          .map(r => r.getLong(0) -> r.getString(2)).toMap
        val agrees = two.forall { case (id, f) =>
          (f == 0L) == (split(id) == "a")
        }
        atomic && covered && folded.length == grps.length && agrees
      }
    }

  property("conformalThreshold: qhat is the brute-force ceil((n+1)(1-a))-th smallest") =
    forAll(Gen.listOfN(15, Gen.chooseNum(-30, 30)), Gen.chooseNum(1, 9)) { (vs, a10) =>
      import spark.implicits._
      val alphaPct = a10 * 10 // 10..90
      vs.isEmpty || {
        val d = vs.zipWithIndex.map { case (v, i) => ("g", v.toDouble, i.toLong) }
          .toDF("g", "v", "id")
        val r = graft.operators.Stats.conformalThreshold(
          d, "g", "v", "id", alphaPct).head()
        val n = vs.length
        val k = ((n + 1) * (100 - alphaPct) + 99) / 100
        val want: Option[Long] =
          if (k > n) None else Some(vs.map(_.toLong * 1000000L).sorted.apply(k - 1))
        r.getLong(1) == n && r.getLong(2) == k.toLong &&
          (if (r.isNullAt(3)) want.isEmpty else want.contains(r.getLong(3)))
      }
    }

  property("retentionCohorts: offsets-0 diagonal counts cohort entrants; n_keys never exceeds cohort_size") =
    forAll(Gen.listOfN(24, Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(0L, 99L)))) { evs =>
      import spark.implicits._
      evs.isEmpty || {
        val d = evs.toDF("u", "t")
        val got = graft.operators.Sequences.retentionCohorts(d, "u", "t", 10L)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4)))
        // brute force: per key the distinct period set, cohort = its min
        val sets = evs.groupBy(_._1).view
          .mapValues(_.map(_._2 / 10L).toSet).toMap
        val entrants = sets.values.groupBy(_.min).view.mapValues(_.size).toMap
        val diagOk = got.filter(g => g._2 == 0L)
          .forall(g => entrants(g._1) == g._3.toInt)
        val sizeOk = got.forall(g => g._3 <= g._4 && g._4 == entrants(g._1).toLong)
        val ratioOk = got.forall(g => g._5 ==
          math.round(g._3.toDouble / g._4.toDouble * 1e6))
        // every (cohort, offset) cell equals its brute-force count
        val cells = sets.values.toSeq
          .flatMap(s => s.map(p => (s.min, p - s.min)))
          .groupBy(identity).view.mapValues(_.size).toMap
        val cellsOk = got.forall(g => cells((g._1, g._2)) == g._3.toInt) &&
          cells.size == got.length
        diagOk && sizeOk && ratioOk && cellsOk
      }
    }
}
