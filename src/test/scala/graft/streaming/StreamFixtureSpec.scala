package graft.streaming

import graft.SparkFunSuite
import org.apache.spark.sql.DataFrame

class StreamFixtureSpec extends SparkFunSuite {
  import spark.implicits._

  test("within: the fixture's root is deleted when the block returns and when it throws") {
    var root: java.io.File = null
    val n = StreamFixture.within("graft_fx_spec") { fx =>
      root = fx.root
      fx.stage(Seq(Seq(1L).toDF("id"))).arriveAll()
      assert(fx.in.listFiles().length == 1)
      42
    }
    assert(n == 42)
    assert(!root.exists, s"$root survived its block")

    val thrown = intercept[IllegalStateException] {
      StreamFixture.within("graft_fx_spec") { fx =>
        root = fx.root
        fx.stage(Seq(Seq(1L).toDF("id")))
        throw new IllegalStateException("scenario failed")
      }
    }
    assert(thrown.getMessage == "scenario failed")
    assert(!root.exists, s"$root survived a throwing block")
  }

  test("slices staged in one call arrive as one micro-batch each, in slice order") {
    StreamFixture.within("graft_fx_spec") { fx =>
      fx.stage(Seq(Seq(1L, 2L).toDF("id"), Seq(3L).toDF("id"))).arriveAll()
      val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]()
      val q = fx.stream(spark).writeStream
        .foreachBatch((b: DataFrame, id: Long) => {
          batches.add(id -> b.as[Long].collect().sorted.toSeq); ()
        })
        .option("checkpointLocation", fx.ckpt.getPath).start()
      try q.processAllAvailable() finally q.stop()
      assert(batches.toArray.toSeq == Seq(0L -> Seq(1L, 2L), 1L -> Seq(3L)))
    }
  }
}
