package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.{SessionMemo, SparkEntry}

/** Records the golden digest of every operation of every workload.
  *
  * Each workload runs twice, in two seed orders, memo-cold each time; an
  * operation whose two digests differ is not deterministic and aborts the
  * recording. With `--oracle-dump`, a `Verify` output directory that the
  * DuckDB oracle check passed on the same tables, every oracle-covered
  * query's golden must also equal the digest of its dumped result: those
  * goldens are oracle-verified, the rest are the engine's own output. */
object GoldenRecorder {

  def record(a: Main.Args): Unit = {
    val tmp = s"${a.out}/tmp"
    Files.createDirectories(Paths.get(tmp))
    val spark = Main.session(tmp)
    Main.warmUp(spark, a.data)
    val lines = Workloads.all.flatMap { w =>
      val runs = Seq(1L, 2L).map { seed =>
        val ctx = new Ctx(spark, a.data, s"$tmp/record-${w.name}-$seed")
        SessionMemo.clearAllForSession(spark)
        val ds = w.ordered(seed).flatten.map { op =>
          val d = Main.runOp(op, ctx, new Tracer(false), 0, Map(op.name -> "")) match {
            case Left(e) if e.startsWith("digest ") => e.split(" ")(1)
            case Left(e) => throw new IllegalStateException(s"${op.name}: $e")
            case Right(d) => d
          }
          op.name -> d
        }.toMap
        Main.deleteTree(Paths.get(ctx.scratch))
        ds
      }
      w.ops.map { op =>
        val d = runs.head(op.name)
        require(runs.forall(_(op.name) == d),
          s"${op.name} is not deterministic: ${runs.map(_(op.name)).mkString(" vs ")}")
        val source = op.query.filter(q => a.oracleDump.nonEmpty && SparkEntry.oracleSql.contains(q)) match {
          case Some(q) =>
            val dumped = RowHash.digest(spark.read.parquet(s"${a.oracleDump}/$q"))
            require(dumped == d, s"${op.name}: live digest $d != oracle-checked dump $dumped")
            "oracle"
          case None => "engine"
        }
        println(s"${w.name} ${op.name} $d $source")
        s"${op.name}\t$d\t$source\t${w.name}"
      }
    }
    val header = "# operation\tdigest\tsource (oracle: equals a DuckDB-checked Verify dump; engine: this engine's output)\tworkload"
    Files.write(Paths.get(a.recordGoldens), (header +: lines).mkString("", "\n", "\n").getBytes(UTF_8))
    spark.stop()
  }
}
