package graft.perfbench

import java.nio.file.Paths

/** Records the result digests that expected.json holds: for each seed in
  * `--seeds FIRST-LAST`, makes the seeded inputs, runs one job of the
  * closed-loop `--workload` and prints `{"seed", "digest", "problems"}`.
  * All seeds share one session, so each job after the first runs warm;
  * the digest does not depend on that, and every measured run compares
  * against it. Run through `perfbench/run.py --record`. */
object Record {
  def main(argv: Array[String]): Unit = {
    val m = Main.options(argv)
    val Array(first, last) = m("seeds").split("-").map(_.toLong)
    val dir = Paths.get(m("dir"))
    val spark = Main.session(m("cores").toInt, dir)
    try (first to last).foreach { seed =>
      val data = dir.resolve(s"data-$seed")
      val wl = Main.workload(m("workload"), new Ctx(spark, data, seed, Scale(m("scale"))), 0)
        .swap.getOrElse(throw new IllegalArgumentException("only closed-loop workloads have digests"))
      wl.prepare()
      wl.iteration(new Tracer(spark, enabled = false, "record"), -1, 1)
      val c = wl.check(1)
      Digest.delete(data)
      println(s"""{"seed": $seed, "digest": ${Json.str(c.digest)}, """ +
        s""""problems": ${c.problems.map(Json.str).mkString("[", ", ", "]")}}""")
    } finally spark.stop()
  }
}
