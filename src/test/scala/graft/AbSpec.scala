package graft

import org.apache.spark.sql.functions.lit

import graft.queries.QuerySpec
import graft.tools.Ab

/** The interleaved A/B runner: hash gate, per-pass sampling, conf scoping. */
class AbSpec extends SparkSpec {
  private val tagKey = "spark.graft.abspec.tag"

  // a fake query whose result reads a conf at construction
  private val tagged: Ab.Query = (s, dir) =>
    QuerySpec.t(s, dir, "nation").select("n_nationkey", "n_name")
      .withColumn("tag", lit(s.conf.get(tagKey, "a")))

  test("Ab reports a result-changing variant as a mismatch and times " +
    "only the variants whose hash equals base") {
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val cells = Ab.run(spark, "/root/testdata/sf0.001", Seq("tagged" -> tagged),
      Seq(Ab.parseVariant("same:spark.sql.shuffle.partitions=2"),
        Ab.parseVariant(s"changed:$tagKey=b")))
    val byVariant = cells.map(c => c.variant -> c).toMap
    assert(cells.map(_.variant) == Seq("base", "same", "changed"))

    val base = byVariant("base")
    val same = byVariant("same")
    val changed = byVariant("changed")
    assert(base.status == "ok" && same.status == "ok")
    assert(same.hash == base.hash)
    assert(base.runs.size == Ab.Passes && same.runs.size == Ab.Passes)
    assert((base.runs ++ same.runs).forall(r =>
      r.wallS > 0 && r.jobs >= 1 && r.jobS >= 0 && r.gapS >= 0 &&
        r.compiles >= 0))

    assert(changed.status == "MISMATCH")
    assert(changed.hash.nonEmpty && changed.hash != base.hash)
    assert(changed.runs.isEmpty)

    // every variant's confs are restored after its runs
    assert(spark.conf.getOption(tagKey).isEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts)

    val lines = Ab.report(cells)
    assert(lines.size == 3)
    assert(lines(2).contains("MISMATCH") && !lines(2).contains("wall="))
    assert(lines.take(2).forall(l => l.contains("wall=") &&
      l.contains("compiles=") && l.contains("ratio=")))
  }
}
