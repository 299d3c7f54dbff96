package graft

import java.nio.file.{Files, Paths}

import graft.tools.Profile

/** The profiler reports each run from its own drained listeners, runs
  * conf variants interleaved, and leaves the session's confs as it found
  * them. */
class ProfileSpec extends SparkSpec {

  test("SPARK_GRAFT_CONF parser: pairs split on ';' so a value may contain ','") {
    assert(LocalSession.confPairs("spark.sql.a=1,2;graft.b=x=y") ==
      Seq("spark.sql.a" -> "1,2", "graft.b" -> "x=y"))
    assert(LocalSession.confPairs("a=1,b=2") == Seq("a" -> "1", "b" -> "2"))
    assert(LocalSession.confPairs("") == Seq.empty)
  }

  test("Profile.labelWall: overlapping jobs share their time, clipped to the run") {
    val jobs = Seq(("a", 0L, 100L), ("a", 50L, 150L), ("b", 100L, 200L))
    assert(Profile.labelWall(jobs, 0L, 180L) == Seq(("a", 2, 0.125), ("b", 1, 0.055)))
  }

  test("Profile: interleaved conf A/B over a batch key and a streaming rig") {
    val before = spark.conf.getAll
    val names = Seq("q_dedup_minhash_md5", "s_neardup_gate")
    val variants = Seq("", "spark.sql.autoBroadcastJoinThreshold=-1")
    val dir = Files.createTempDirectory("graft_profile").toString
    val runs = Profile.run(spark, sf("sf0.001"), names, 1, variants, Some(dir))
    assert(runs.map(r => (r.name, r.variant)) ==
      names.flatMap(n => variants.map(n -> _)))
    assert(runs.map(_.variant).sliding(2).forall(p => p.head != p.last))
    runs.foreach { r =>
      assert(r.jobs >= 1, r)
      assert(r.jobWall.map(_._3).sum <= r.wallSec, r)
    }
    runs.filter(_.name == "s_neardup_gate").foreach { r =>
      assert(r.dataTriggers == 10, r)
      assert(r.phasesMs.getOrElse("addBatch", 0L) > 0L, r)
    }
    names.foreach(n => assert(Files.size(Paths.get(dir, s"$n.txt")) > 0L, n))
    assert(spark.conf.getAll == before)
  }
}
