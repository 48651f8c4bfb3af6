package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("digest ignores row and column order but sees a single changed value") {
    import spark.implicits._
    val rows = Seq((1L, "a", 1.5, Map("k" -> 1)), (2L, "b", 2.5, Map("k" -> 2)),
      (3L, "c", 3.5, Map("k" -> 3)))
    val base = RowHash.digest(rows.toDF("id", "s", "x", "m"))
    assert(RowHash.digest(rows.reverse.toDF("id", "s", "x", "m").repartition(3)) == base)
    assert(RowHash.digest(rows.toDF("id", "s", "x", "m").select("m", "x", "id", "s")) == base)
    val changed = rows.updated(1, (2L, "b", 2.5000000001, Map("k" -> 2)))
    assert(RowHash.digest(changed.toDF("id", "s", "x", "m")) != base)
    assert(RowHash.digest(rows.toDF("id", "s", "y", "m")) != base, "a renamed column must count")
    assert(RowHash.digest((rows :+ rows.head).toDF("id", "s", "x", "m")) != base,
      "a duplicated row must count")
    assert(RowHash.rows(base) == 3L)
  }

  test("percentiles interpolate, and a percentile needs ten samples beyond it") {
    val xs = (1 to 11).map(_.toDouble)
    assert(Stats.median(xs) == 6.0)
    assert(Stats.percentile(xs, 0.9) == 10.0)
    assert(Stats.percentile(Seq(1.0, 2.0), 0.5) == 1.5)
    assert(Stats.backed(100, 0.9) && !Stats.backed(99, 0.9))
    assert(Stats.backed(20, 0.5) && !Stats.backed(19, 0.5))
    intercept[IllegalArgumentException](Stats.percentile(Nil, 0.5))
    // Harrell-Davis: exact on a constant sample, between the neighbouring
    // order statistics otherwise, and monotone in p
    assert(math.abs(Stats.harrellDavis(Seq.fill(5)(2.0), 0.9) - 2.0) < 1e-12)
    val hd50 = Stats.harrellDavis(xs, 0.5)
    assert(hd50 > 5.0 && hd50 < 7.0 && Stats.harrellDavis(xs, 0.9) > hd50)
  }

  test("self time subtracts the union of direct children, not grandchildren") {
    // op [0,100) has children build [10,40) and exec [30,90) (overlapping);
    // exec has a grandchild [40,60) that only reduces exec's self time
    val spans = Seq(
      Span(0, -1, "op", "sql", 1, 0, 100),
      Span(1, 0, "build", "sql", 1, 10, 40),
      Span(2, 0, "exec", "sql", 1, 30, 90),
      Span(3, 2, "inner", "spark", 1, 40, 60))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - 80)
    assert(self(1) == 30)
    assert(self(2) == 60 - 20)
    assert(self(3) == 20)
    assert(Trace.selfByLayer(spans)("sql") == (20 + 30 + 40) / 1e9)
    assert(Trace.covered(Seq((5L, 10L), (0L, 3L), (2L, 4L))) == 9)
  }

  test("a tracer records nested spans with their parents and operation") {
    val t = new Tracer(true)
    t.beginOp(7)
    t.span("op", "dedup") { t.span("build", "dedup")(()); t.span("exec", "dedup")(()) }
    val Seq(op, build, exec) = t.spans
    assert(op.parent == -1 && build.parent == op.id && exec.parent == op.id)
    assert(t.spans.forall(s => s.op == 7 && s.end >= s.start))
    val off = new Tracer(false)
    assert(off.span("x", "y")(42) == 42 && off.spans.isEmpty)
  }

  test("every workload operation resolves to an engine query or a direct call") {
    for (w <- Workloads.all; op <- w.ops; q <- op.query)
      assert(SparkEntry.queries.contains(q), s"${w.name}: $q is not in SparkEntry.queries")
    assert(Workloads.all.flatMap(_.ops).map(_.name).distinct.size == Workloads.all.map(_.ops.size).sum,
      "operation names must be unique across workloads")
    assert(Workloads.all.flatMap(_.ops.map(_.layer)).toSet == Workloads.layers.toSet - "spark",
      "every named layer runs in some workload")
    val e = intercept[NoSuchElementException](Workloads.entry("q_no_such_query", "sql"))
    assert(e.getMessage.contains("q_no_such_query"))
  }

  test("the seed permutes independent chains and keeps chain order") {
    val w = Workloads.pipelines
    val orders = (1L to 6L).map(w.ordered(_).flatten.map(_.name))
    assert(orders.distinct.size > 1)
    def before(o: Seq[String], a: String, b: String): Boolean = o.indexOf(a) < o.indexOf(b)
    for (o <- orders) {
      assert(o.sorted == w.ops.map(_.name).sorted)
      assert(before(o, "q_dedup_ngram_prefix", "q_dedup_components"))
      assert(before(o, "ml.prepareData", "ml.kmeansScan") && before(o, "ml.kmeansScan", "ml.resultsCsv"))
    }
    assert(w.ordered(3L).flatten.map(_.name) == w.ordered(3L).flatten.map(_.name))
  }

  test("the conf guard names a drifted key and puts the conf back") {
    val before = spark.conf.getAll
    assert(Main.confGuard(spark, before).isEmpty)
    spark.conf.set("spark.sql.shuffle.partitions", "17")
    spark.conf.set("spark.graft.perfbench.probe", "x")
    val msg = Main.confGuard(spark, before)
    assert(msg.exists(m => m.contains("spark.sql.shuffle.partitions: 2 -> 17") &&
      m.contains("spark.graft.perfbench.probe")), msg)
    assert(spark.conf.getAll == before)
  }

  test("a failing or mismatching operation is a named failure, not a crash") {
    import spark.implicits._
    val ctx = new Ctx(spark, "unused", "unused")
    val good = Op("probe", "sql", None, split = true)(_ => Frame(Seq(1, 2).toDF("v")))
    val d = RowHash.digest(Seq(1, 2).toDF("v"))
    assert(Main.runOp(good, ctx, new Tracer(false), 1, Map("probe" -> d)) == Right(d))
    assert(Main.runOp(good, ctx, new Tracer(false), 1, Map("probe" -> "0:0")).left.exists(_.contains("golden")))
    assert(Main.runOp(good, ctx, new Tracer(false), 1, Map.empty).left.exists(_.contains("no golden")))
    val boom = Op("boom", "sql", None, split = false)(_ => throw new IllegalStateException("kaput"))
    assert(Main.runOp(boom, ctx, new Tracer(false), 1, Map.empty).left.exists(_.contains("kaput")))
  }
}
