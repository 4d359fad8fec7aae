package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.ExportOps

/** The gate harness's lifecycle contract: a failed drain leaves no query,
  * conf or scratch behind; arrivals replay in call order; the shard
  * override beats every gate's own choice. */
class StreamGateSpec extends SparkSpec {

  private val Shuffle = "spark.sql.shuffle.partitions"
  private val Provider = "spark.sql.streaming.stateStore.providerClass"
  private val HdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  private def marked(m: Int): DataFrame =
    spark.range(4).select(lit(m).as("m"), col("id"))

  /** Runs a gate whose foreachBatch throws; returns its scratch dir. */
  private def failingDrain(): java.io.File = {
    var dir: java.io.File = null
    val e = intercept[Exception] {
      StreamGate(spark, "graft_gate_spec", "spec", StreamGate.RocksDb) { g =>
        dir = g.dir
        g.arrive(marked(0), "f0")
        g.drain(g.readIn(marked(0).schema).writeStream
          .foreachBatch { (_: DataFrame, _: Long) =>
            throw new IllegalStateException("sink down")
          })(_.processAllAvailable())
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("sink down"))),
      s"the sink's failure must propagate: $e")
    dir
  }

  private def explicit(key: String): Option[String] = spark.conf.getAll.get(key)

  test("a failing drain stops its query, restores confs and deletes its scratch") {
    val shufflePrev = explicit(Shuffle)
    try {
      // shuffle set, provider unset
      spark.conf.set(Shuffle, "7")
      spark.conf.unset(Provider)
      val dir1 = failingDrain()
      assert(spark.streams.active.isEmpty, "the failed query must be stopped")
      assert(explicit(Shuffle) === Some("7"))
      assert(explicit(Provider) === None, "an unset conf must stay unset")
      assert(!dir1.exists(), s"scratch $dir1 must be deleted")
      // shuffle unset, provider set
      spark.conf.unset(Shuffle)
      spark.conf.set(Provider, HdfsProvider)
      val dir2 = failingDrain()
      assert(spark.streams.active.isEmpty, "the failed query must be stopped")
      assert(explicit(Shuffle) === None, "an unset conf must stay unset")
      assert(explicit(Provider) === Some(HdfsProvider))
      assert(!dir2.exists(), s"scratch $dir2 must be deleted")
    } finally {
      spark.conf.unset(Provider)
      shufflePrev.fold(spark.conf.unset(Shuffle))(spark.conf.set(Shuffle, _))
    }
  }

  test("under maxFilesPerTrigger=1, batch k reads the k-th arrival") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Int])]
    StreamGate(spark, "graft_gate_order", "spec") { g =>
      // names sort against arrival order: only the mtimes can order them
      Seq("c", "a", "b").zipWithIndex.foreach { case (n, k) =>
        g.arrive(marked(k), n)
      }
      val byMtime = new java.io.File(g.in).listFiles().sortBy(_.lastModified())
      assert(byMtime.map(_.getName).toSeq ===
        Seq("c.parquet", "a.parquet", "b.parquet"))
      assert(byMtime.forall(_.lastModified() < System.currentTimeMillis()),
        "arrival mtimes must lie in the past")
      g.drain(g.readIn(marked(0).schema).writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          seen.add(id -> b.select("m").distinct().collect().map(_.getInt(0)).toSeq)
          ()
        }, shards = None)(_.processAllAvailable())
    }
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq.sortBy(_._1) ===
      Seq(0L -> Seq(0), 1L -> Seq(1), 2L -> Seq(2)))
  }

  test("the shard override beats the corpus-size escalation") {
    var asked = 0
    def escalate: Option[Int] = { asked += 1; Some(32) }
    try {
      sys.props.remove(StreamGate.ShardsProp)
      assert(StreamGate.shards() === "2")
      assert(StreamGate.shards(8) === "8")
      assert(StreamGate.shards(8, escalate) === "32")
      assert(StreamGate.shards(8, None) === "8")
      sys.props(StreamGate.ShardsProp) = "5"
      asked = 0
      assert(StreamGate.shards(8, escalate) === "5")
      assert(StreamGate.shards() === "5")
      assert(asked === 0, "the escalation is not evaluated under an override")
    } finally sys.props.remove(StreamGate.ShardsProp)
  }
}
