package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.LocalSession
import graft.operators.{ProductQuant, Similarity}

/** The recall operating curves of the vector indexes, one markdown table
  * per mode (recorded in PLANS.md; the declared queries stay pinned at
  * their shipped settings):
  *  - `nprobe`: IVF recall@10 vs probe width ∈ {1, 2, 4, 8}
  *    ([[Similarity.annRecallAt]]). nprobe trades probe cost (nprobe/nlist
  *    of the corpus read per query) against recall.
  *  - `filtered`: filtered-ANN recall over filter selectivity (label sets
  *    of ~10/20/40/80 % of the ~uniform 10-class corpus) × nprobe
  *    ([[Similarity.annFilteredAt]]): how much probe widening a filter
  *    selectivity demands to hold recall.
  *  - `rerank`: IVFPQ recall vs ADC shortlist depth R ∈ {10, 25, 50, 100,
  *    200} ([[ProductQuant.ivfPqRerankAt]]). Hits ≡ |shortlist ∩ true
  *    top-10|, so the curve is the shortlist-quality function and
  *    saturates at the cell ceiling.
  *  - `bq`: binary-quantization recall vs exact-rescore depth R
  *    ([[Similarity.bqRecallAt]]). The Hamming scan reads the whole code
  *    table, so R prices only the float reads.
  *
  * {{{
  * runMain graft.tools.Sweep <sfDir> nprobe|filtered|rerank|bq
  * }}}
  *
  * The mode's one-time index build runs first and is timed on its own;
  * each setting then reports the min of 2 evaluations (one sample is
  * hostage to a GC pause). */
object Sweep {

  /** A mode: its one-time build, the setting columns, and per setting
    * its cells and its one-row recall evaluation. */
  private final case class Mode(build: (SparkSession, String) => Any,
      heads: Seq[String], settings: Seq[(Seq[String], (SparkSession, String) => DataFrame)])

  private val Rs = Seq(10, 25, 50, 100, 200)
  private val Nprobes = Seq(1, 2, 4, 8)

  private val modes: Map[String, Mode] = Map(
    "nprobe" -> Mode(Similarity.ivfIndex(_, _), Seq("nprobe"),
      Nprobes.map(np => (Seq(s"$np"), Similarity.annRecallAt(_, _, np)))),
    "filtered" -> Mode(Similarity.ivfIndex(_, _), Seq("labels", "~sel", "nprobe"),
      for {
        ls <- Seq(Seq(3), Seq(1, 3), Seq(1, 3, 5, 7), Seq(0, 1, 2, 3, 4, 5, 6, 8))
        np <- Nprobes
      } yield (Seq(ls.mkString(","), s"${ls.size * 10}%", s"$np"),
        Similarity.annFilteredAt(_, _, ls, Seq(np)))),
    "rerank" -> Mode((s, d) => { Similarity.ivfIndex(s, d); ProductQuant.pqIndex(s, d) },
      Seq("R"), Rs.map(r => (Seq(s"$r"), ProductQuant.ivfPqRerankAt(_, _, r)))),
    "bq" -> Mode(Similarity.bqIndex(_, _), Seq("R"),
      Rs.map(r => (Seq(s"$r"), Similarity.bqRecallAt(_, _, r)))))

  private def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2 && modes.contains(args(1)),
      s"usage: Sweep <sfDir> ${modes.keys.toSeq.sorted.mkString("|")}")
    val Array(sfDir, mode) = args
    val m = modes(mode)
    val s = LocalSession("ERROR")
    try {
      println(f"[sweep] $mode one-time index build: ${secs(m.build(s, sfDir))._2}%.2f s")
      println((m.heads ++ Seq("recall@10", "n_hit/n_exact", "eval sec"))
        .mkString("| ", " | ", " |"))
      println(Seq.fill(m.heads.size + 3)("---").mkString("|", "|", "|"))
      m.settings.foreach { case (cells, eval) =>
        val (row, sec) = (1 to 2).map(_ => secs(eval(s, sfDir).collect().head)).minBy(_._2)
        def n(c: String) = row.getAs[Number](c).longValue
        println((cells ++ Seq(f"${row.getAs[Double]("recall")}%.4f",
          s"${n("n_hit")}/${n("n_exact")}", f"$sec%.2f")).mkString("| ", " | ", " |"))
      }
    } finally s.stop()
  }
}
