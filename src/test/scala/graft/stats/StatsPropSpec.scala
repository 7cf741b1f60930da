package graft.stats

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.model.FileEntry

/** The reference's core invariant, property-style over randomized
  * fixtures (totals_test.go:94-107): per-uid totals and per-gid totals
  * each sum to the overall totals, for every metric, regardless of the
  * uid/gid distribution. Randomization is seeded (deterministic CI).
  */
class StatsPropSpec extends SparkSpec with StatsPaths {

  private val T0 = new Timestamp(1700000000000L)

  private def randomFixture(seed: Long): Seq[FileEntry] = {
    val rnd = new scala.util.Random(seed)
    val nPrefixes = 1 + rnd.nextInt(5)
    (0 until nPrefixes).flatMap { p =>
      val uid = 100L + rnd.nextInt(3)
      val gid = 2L + rnd.nextInt(3)
      val nFiles = rnd.nextInt(6)
      val prefix = FileEntry(s"/p$p", "", s"p$p", 1, is_dir = true,
        1 + rnd.nextInt(100), 1 + rnd.nextInt(8), 448, T0, uid, gid, 1,
        1000 + p, 1, nFiles.toLong)
      val files = (0 until nFiles).map { i =>
        FileEntry(s"/p$p/f$i", s"/p$p", s"f$i", 2, is_dir = false,
          rnd.nextInt(1000), 1 + rnd.nextInt(8), 420, T0,
          100L + rnd.nextInt(3), 2L + rnd.nextInt(3), 1,
          2000 + p * 100 + i, 1, 0)
      }
      prefix +: files
    }
  }

  statsCase("per-id totals sum to overall totals across random fixtures") { st =>
    val s = spark
    import s.implicits._
    for (seed <- 1L to 12L) {
      val df = randomFixture(seed).toDF()
      val c = st.compute(df, calc = Calculator.Block(512))
      val metrics = Seq("prefixes", "sub_prefixes", "files", "hardlinks",
        "bytes", "prefix_bytes", "storage_bytes")
      val total = c.totals.collect().head
      val totalsByName = metrics.map(m =>
        m -> total.getLong(c.totals.columns.indexOf(m))).toMap
      for ((frame, label) <- Seq((c.perUser, "uid"), (c.perGroup, "gid"))) {
        val rows = frame.collect()
        metrics.foreach { m =>
          val idx = frame.columns.indexOf(m)
          assert(rows.map(_.getLong(idx)).sum == totalsByName(m),
            s"seed=$seed $label $m")
        }
      }
      // and the per-prefix frame partitions the totals too
      val ppRows = c.perPrefix.collect()
      metrics.foreach { m =>
        val idx = c.perPrefix.columns.indexOf(m)
        assert(ppRows.map(_.getLong(idx)).sum == totalsByName(m),
          s"seed=$seed per-prefix $m")
      }
    }
  }
}
