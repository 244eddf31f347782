package perfbench

import java.nio.file.{Files, Path}
import graft.SparkEntry

/** Records the result each catalog query must reproduce on the generated
  * tables (`--record <file>`, with `--tiny` for the self-test scale).
  *
  * Two sessions: one at the machine's core count making two passes over
  * the pool (the second pass's wall is the recorded cost), one at two cores
  * making one. A query whose digest agrees across all three results is checked
  * by digest; one whose rows agree but digest does not (seeded sampling,
  * approximate sketches, partition-dependent tie-breaks) by row count; any
  * other is left out of the pool with its reason. */
object Record {

  /** Never sampled, with the reason written into the recorded file. */
  val Excluded: Map[String, String] = Map(
    "s1_csv_scan" -> "writes its CSV round-trip to a fixed path outside the work directory")

  private type PassResult = Map[String, Either[String, (Seq[Digest.Result], Double)]]

  def run(o: Main.Opts, out: Path): Unit = {
    val scale = if (o.tiny) Catalog.TinyScale else 1.0
    val dir = o.work.resolve("sf")
    val names = SparkEntry.queries.keys.toSeq.sorted.filterNot(Excluded.contains)

    /** `passes` full passes over the pool in one session; a query's cost
      * is its wall in the last pass, measured like the workload's timed
      * op: a second execution with the rest of the pool run in between. */
    def pass(cores: Int, passes: Int, generate: Boolean): PassResult = {
      val spark = Main.session(o.work, cores)
      try {
        if (generate) { Files.createDirectories(dir); Gen.tables(spark, dir, scale, Catalog.DataSeed) }
        val queries = SparkEntry.queries
        val runs = (1 to passes).map { _ =>
          names.map { n =>
            n -> (try {
              System.gc()
              val t0 = System.nanoTime()
              val d = Digest.of(queries(n)(spark, dir.toString))
              val wall = (System.nanoTime() - t0) / 1e9
              println(s"[record] $n ${d.hex} $wall")
              Right((d, wall))
            } catch { case e: Throwable =>
              println(s"[record] $n FAILED $e")
              Left(e.toString.replaceAll("\\s+", " ").take(160))
            })
          }.toMap
        }
        names.map { n =>
          val rs = runs.map(_(n))
          n -> rs.collectFirst { case Left(e) => Left(e) }.getOrElse(Right((rs.map(_.toOption.get._1), rs.last.toOption.get._2)))
        }.toMap
      } finally spark.stop()
    }

    val a = pass(Runtime.getRuntime.availableProcessors(), 2, generate = true)
    val b = pass(2, 1, generate = false)
    val excluded = Seq.newBuilder[(String, String)] ++= Excluded.toSeq
    val lines = names.flatMap { n =>
      (a(n), b(n)) match {
        case (Right((ra, cost)), Right((rb, _))) =>
          val all = ra ++ rb
          if (all.distinct.size == 1) Some(Seq(n, Expected.family(n), f"$cost%.4f", "digest", all.head.rows, all.head.hex))
          else if (all.map(_.rows).distinct.size == 1) Some(Seq(n, Expected.family(n), f"$cost%.4f", "rows", all.head.rows, "-"))
          else { excluded += n -> s"row count differs between runs: ${all.map(_.rows).mkString(",")}"; None }
        case (ea, eb) =>
          excluded += n -> Seq(ea, eb).collectFirst { case Left(e) => s"fails on the generated tables: $e" }.get
          None
      }
    }
    val header = Seq(
      s"# catalog results on the generated tables, scale $scale, data seed ${Catalog.DataSeed}",
      "# name\tfamily\tcost_s\tmode\trows\tdigest") ++
      excluded.result().sorted.map { case (n, why) => s"# excluded\t$n\t$why" }
    Files.write(out, (header ++ lines.map(_.mkString("\t"))).mkString("", "\n", "\n").getBytes("UTF-8"))
    println(s"[record] ${lines.size} queries recorded, ${excluded.result().size} excluded -> $out")
  }
}
