package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based invariants (ScalaCheck generators driven from a fixed
  * seed through deterministic parameters) for the engine's algebraic
  * claims. */
class PropertySpec extends SparkSpec {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), p)
    assert(res.passed, res.status.toString)
  }

  test("decimal sum is order/partitioning independent (the oracle-parity claim)") {
    import spark.implicits._
    val gen = Gen.listOfN(200, Gen.chooseNum(-99999L, 99999L))
    check(Prop.forAll(gen) { cents =>
      val vals = cents.map(c => c / 100.0)
      val df = vals.toDF("v").select(col("v").cast(DecimalType(18, 2)).as("d"))
      val s1 = df.coalesce(1).agg(sum("d")).head.getDecimal(0)
      val s8 = df.repartition(8).agg(sum("d")).head.getDecimal(0)
      s1 == s8
    })
  }

  test("agg-of-agg (A1->A2) equals direct grouped aggregation of the same rows") {
    import spark.implicits._
    val gen = Gen.listOfN(300, Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0, 20), Gen.chooseNum(1L, 99999L)))
    check(Prop.forAll(gen) { rows =>
      val df = rows.map { case (u, s, c) => (u, s, c / 100.0) }.toDF("user", "session", "price")
        .select(col("user"), col("session"), col("price").cast(DecimalType(18, 2)).as("price"))
      val a1 = df.groupBy("user", "session").agg(sum("price").as("rev"))
      val a2 = a1.groupBy("user").agg(sum("rev").cast("double").as("total")).orderBy("user")
      val direct = df.groupBy("user").agg(sum("price").cast("double").as("total")).orderBy("user")
      a2.collect().toSeq == direct.collect().toSeq
    })
  }

  test("minhash signature of a union is the element-wise min of the signatures") {
    val schema = StructType(Seq(StructField("hs", ArrayType(LongType, containsNull = false))))
    val gen = Gen.zip(
      Gen.nonEmptyListOf(Gen.chooseNum(0L, 2147483646L)),
      Gen.nonEmptyListOf(Gen.chooseNum(0L, 2147483646L)))
    val rnd = new scala.util.Random(42)
    val a = Array.fill(128)(1L + math.abs(rnd.nextLong()) % 2147483646L)
    val b = Array.fill(128)(math.abs(rnd.nextLong()) % 2147483647L)
    def sig(hs: Seq[Long]): Seq[Long] = {
      val df = spark.createDataFrame(
        java.util.List.of(Row(hs)), schema)
      df.select(graft.functions.HashExpressions.minhash_sig(col("hs"), a, b, 2147483647L))
        .head.getSeq[Long](0)
    }
    check(Prop.forAll(gen) { case (xs, ys) =>
      val su = sig(xs ++ ys)
      val sx = sig(xs)
      val sy = sig(ys)
      su == sx.zip(sy).map { case (x, y) => math.min(x, y) }
    })
  }

  test("simhash is invariant under input order and exact for singletons") {
    val schema = StructType(Seq(StructField("th", ArrayType(LongType, containsNull = false))))
    def sh(hs: Seq[Long]): Long = {
      val df = spark.createDataFrame(java.util.List.of(Row(hs)), schema)
      df.select(graft.functions.HashExpressions.simhash64(col("th"))).head.getLong(0)
    }
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
    check(Prop.forAll(gen) { xs =>
      sh(xs) == sh(xs.reverse) && sh(List(xs.head)) == xs.head
    })
  }

  /** Driver union-find reference: every node of `edges` mapped to the
    * minimum id of its connected component under `ord`. */
  private def componentMins[K](edges: Seq[(K, K)])(implicit ord: Ordering[K]): Map[K, K] = {
    val parent = scala.collection.mutable.Map.empty[K, K]
    def find(x: K): K = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.groupBy(find).flatMap {
      case (_, members) => val m = members.min; members.map(_ -> m)
    }
  }

  // the default bound labels these small graphs in one union-find task;
  // bound 0 sends the same graphs through the distributed rounds
  private val ccPaths = Seq("one task" -> graft.operators.Dedup.AdjacencyRowsPerPartition,
    "rounds" -> 0L)

  test("min-label components equal a union-find reference on random graphs") {
    // guards both labelling paths (the one-task union-find and the
    // contraction rounds with min-neighbor init and path doubling): on
    // any random edge list each must assign every node the minimum id
    // reachable in its connected component
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(2, 40)       // node id space
      m <- Gen.choose(1, 60)       // edge count
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong); b <- Gen.choose(0L, n.toLong)
      } yield (math.min(a, b), math.max(a, b)))
    } yield edges.filter(e => e._1 != e._2)
    for ((path, bound) <- ccPaths) withClue(s"$path: ") {
      check(Prop.forAll(gen) { edges =>
        edges.isEmpty || {
          val df = edges.toDF("id_a", "id_b")
          val got = graft.operators.Dedup.minLabelComponents(df, bound)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          got == componentMins(edges)
        }
      })
    }
  }

  test("min-label components take the byte-order min of non-ASCII string ids") {
    // fuzzyCanonical keys on names, and Spark orders strings by their
    // UTF-8 bytes: "Ａ" (U+FF21, EF BC A1) sorts before the emoji
    // (U+1F600, F0 9F 98 80) although Java's UTF-16 order puts the
    // emoji's surrogate D83D first, and "Straße" before "solo" although
    // a locale collation would not
    import spark.implicits._
    val edges = Seq("zoe" -> "é", "é" -> "中文", "Zoë" -> "zoe",
      "\uD83D\uDE00" -> "\uFF21", "ß" -> "a\u0301", "solo" -> "Straße")
    val byteOrder: Ordering[String] = Ordering.by((s: String) =>
      s.getBytes("UTF-8").toSeq.map(_ & 0xff))(Ordering.Implicits.seqOrdering[Seq, Int])
    // the reference's order is Spark's: `least` agrees on every edge
    val least_ = edges.toDF("id_a", "id_b")
      .select(col("id_a"), col("id_b"), least(col("id_a"), col("id_b")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    edges.foreach { case (a, b) => assert(least_((a, b)) == byteOrder.min(a, b), s"$a ~ $b") }
    val want = componentMins(edges)(byteOrder)
    assert(want("中文") == "Zoë" && want("\uD83D\uDE00") == "\uFF21" && want("solo") == "Straße")
    for ((path, bound) <- ccPaths) withClue(s"$path: ") {
      val got = graft.operators.Dedup.minLabelComponents(edges.toDF("id_a", "id_b"), bound)
      assert(got.schema.map(_.dataType) == Seq(StringType, StringType))
      assert(got.collect().map(r => r.getString(0) -> r.getString(1)).toMap == want)
    }
  }

  test("min-label components keep only the final labels checkpoint persisted") {
    // a 64-node chain takes several rounds even with path doubling; every
    // superseded labels/adjacency checkpoint must be released, and the
    // one-task path persists nothing but its labels, so on either path
    // the persisted set grows by at most the returned frame's own
    // checkpoint
    import spark.implicits._
    import org.apache.spark.sql.execution.LogicalRDD
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val sc = spark.sparkContext
    for ((path, bound) <- ccPaths) withClue(s"$path: ") {
      val before = sc.getPersistentRDDs.keySet
      val labels = graft.operators.Dedup.minLabelComponents(edges, bound)
      val grown = sc.getPersistentRDDs.keySet -- before
      val own = labels.queryExecution.logical.collectLeaves()
        .collect { case r: LogicalRDD => r.rdd.id }.toSet
      assert(grown.subsetOf(own) && grown.size <= 1,
        s"persisted RDDs grew by $grown; only the final labels ($own) may stay")
      assert(labels.collect().map(_.getLong(1)).toSet == Set(0L))
    }
  }
}
