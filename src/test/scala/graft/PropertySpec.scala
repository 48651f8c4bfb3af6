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

  test("min-label components equal a union-find reference on random graphs") {
    // guards the propagation loop's restructurings (min-neighbor init,
    // union-into-one-min rounds, biennial convergence count): on any
    // random edge list the distributed fixpoint must assign every node
    // the minimum id reachable in its connected component
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(2, 40)       // node id space
      m <- Gen.choose(1, 60)       // edge count
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong); b <- Gen.choose(0L, n.toLong)
      } yield (math.min(a, b), math.max(a, b)))
    } yield edges.filter(e => e._1 != e._2)
    check(Prop.forAll(gen) { edges =>
      edges.isEmpty || {
        val df = edges.toDF("id_a", "id_b")
        val got = graft.operators.Dedup.minLabelComponents(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // driver union-find reference
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val roots = nodes.groupBy(find).flatMap { case (_, members) =>
          val m = members.min; members.map(_ -> m)
        }
        got == roots
      }
    })
  }

  test("min-label components keep only the final labels checkpoint persisted") {
    // a 64-node chain takes several rounds even with path doubling; every
    // superseded labels/adjacency checkpoint must be released, so the
    // persisted set grows by at most the returned frame's own checkpoint
    import spark.implicits._
    import org.apache.spark.sql.execution.LogicalRDD
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val labels = graft.operators.Dedup.minLabelComponents(edges)
    val grown = sc.getPersistentRDDs.keySet -- before
    val own = labels.queryExecution.logical.collectLeaves()
      .collect { case r: LogicalRDD => r.rdd.id }.toSet
    assert(grown.subsetOf(own) && grown.size <= 1,
      s"persisted RDDs grew by $grown; only the final labels ($own) may stay")
    assert(labels.collect().map(_.getLong(1)).toSet == Set(0L))
  }
}
