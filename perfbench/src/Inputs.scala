package perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.util.Random
import graft.cometbft.Fixtures

/** Seeded inputs. The program only ever sees the files written here: the
  * generator's 4-node CometBFT logs, with the seed choosing the height
  * count inside the workload's band, the file names (and so the listing
  * order and the file-to-task assignment), and the stream chunk cuts. */
object Inputs {

  /** One node's log split into its two header lines (node ID and
    * validator address, which the P7 metadata join needs in every file)
    * and one block of lines per height. */
  private def byHeight(node: Int, heights: Int): (Seq[String], Seq[Seq[String]]) = {
    val lines = Fixtures.nodeLog(node, heights)
    val (header, body) = lines.splitAt(2)
    val starts = body.indices.filter(i => body(i).startsWith("{\"_msg\":\"Entering new round\""))
    require(starts.size == heights && starts.headOption.contains(0),
      s"node $node: expected $heights height blocks, found ${starts.size}")
    (header, (starts :+ body.size).sliding(2).map { case Seq(a, b) => body.slice(a, b) }.toSeq)
  }

  private def write(p: Path, lines: Seq[String]): Unit =
    Files.write(p, lines.mkString("\n").getBytes("UTF-8"))

  /** A 4-node log directory of `heights` heights; returns its line count. */
  def writeLogs(dir: String, heights: Int, rnd: Random): Long = {
    val p = Paths.get(dir)
    Files.createDirectories(p)
    val tags = Seq.fill(4)(f"${rnd.nextInt(1 << 24)}%06x")
    (0 until 4).map { n =>
      val lines = Fixtures.nodeLog(n, heights)
      write(p.resolve(s"n${tags(n)}_cometbft.log"), lines)
      lines.size.toLong
    }.sum
  }

  /** The same logs cut at height boundaries into `cuts.size + 1` chunk
    * files per node. Chunk `c` of every node gets the same modification
    * time, later than chunk `c - 1`'s, so a file stream taking 4 files per
    * trigger reads one height range of all 4 nodes per micro-batch.
    * Returns the line count over all chunks. */
  def writeChunks(dir: String, heights: Int, cuts: Seq[Int]): Long = {
    val p = Paths.get(dir)
    Files.createDirectories(p)
    val bounds = (0 +: cuts :+ heights).sliding(2).toSeq
    val t0 = 1700000000000L
    (0 until 4).map { n =>
      val (header, blocks) = byHeight(n, heights)
      bounds.zipWithIndex.map { case (Seq(lo, hi), c) =>
        val f = p.resolve(f"chunk$c%02d_node$n.log")
        val lines = header ++ blocks.slice(lo, hi).flatten
        write(f, lines)
        Files.setLastModifiedTime(f, FileTime.fromMillis(t0 + c * 60000L))
        lines.size.toLong
      }.sum
    }.sum
  }

  /** Recursively delete a directory (a finished run's warehouse). */
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }
}
