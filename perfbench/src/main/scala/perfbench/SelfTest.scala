package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.Cdc
import graft.sources.CdcSources

/** Checks the generator's model against `Cdc.snapshot` on small seeds
  * whose envelopes include deletes, re-creates after a delete and
  * redelivered duplicates. Throws on the first disagreement. */
object SelfTest {
  def run(spark: SparkSession, work: Path): Unit = {
    val cases = Seq(
      ("inserts", 11L, Mix(0.6, 0.4, 0.1), Zipf(0.99)),
      ("zipf", 12L, Mix(0.05, 0.3, 0.1), Zipf(1.1)),
      ("zipf-snapshot", 13L, Mix(0.02, 0.5, 0.2), Zipf(0.8)))
    cases.foreach { case (label, seed, mix, skew) =>
      val dir = Files.createDirectories(work.resolve(s"selftest/$label"))
      val gen = new Gen(seed, mix, skew)
      val ts = System.currentTimeMillis()
      Gen.writeFile(dir, "part-00000.json", gen.snapshot(50, ts))
      (1 to 4).foreach(i => Gen.writeFile(dir, f"part-$i%05d.json",
        Seq.fill(150)(gen.next(ts))))
      require(gen.deletes > 0 && gen.recreates > 0 && gen.duplicates > 0,
        s"$label: the events lack a delete, re-create or duplicate")
      val got = Cdc.snapshot(CdcSources.jsonChangelog(spark, s"$dir/part-*.json"))
        .orderBy(col("id")).collect().toSeq
        .map(r => r.getLong(0) -> Img(r.getString(1), r.getString(2), r.getString(3)))
      require(got == gen.liveRows, s"$label: model and Cdc.snapshot differ: " +
        s"${got.diff(gen.liveRows).take(3)} / ${gen.liveRows.diff(got).take(3)}")
      System.err.println(s"[perfbench] selftest $label ok: ${got.size} live rows, " +
        s"${gen.deletes} deletes, ${gen.recreates} re-creates, " +
        s"${gen.duplicates} duplicates")
    }
    println("PERFBENCH_SELFTEST ok")
  }
}
