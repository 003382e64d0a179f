package graft.model

import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.functions.{col, udf}

import graft.SparkSpec

/** The model-row bound holds BEFORE the collect: a data-sized frame is
  * refused with the named message after a bounded fetch, not after
  * being collected whole. */
class LocalModelBoundSpec extends SparkSpec {
  test("an over-bound frame is refused within 10 s with the named message") {
    // a pause per million rows caps each task near 4M rows/s: the
    // bounded fetch needs ~1 s of pauses, while a whole-frame collect
    // is still running (and is cancelled) at the deadline instead of
    // filling the heap
    val paced = udf { (id: Long) =>
      if (id % 1000000L == 0L) Thread.sleep(250)
      true
    }
    val huge = spark.range(1L << 40).filter(paced(col("id"))).toDF()
    val sc = spark.sparkContext
    val group = s"localmodel-bound-${java.util.UUID.randomUUID()}"
    val refusal = Future {
      sc.setJobGroup(group, "over-bound model frame", interruptOnCancel = true)
      try Try(LocalModel.localized(huge)) finally sc.clearJobGroup()
    }(ExecutionContext.global)
    val outcome = try Await.result(refusal, 10.seconds) catch {
      case _: TimeoutException =>
        sc.cancelJobGroup(group)
        fail("an over-bound frame was not refused within 10 s")
    }
    val e = outcome.failed.getOrElse(fail("an over-bound frame was localized"))
    assert(e.isInstanceOf[IllegalArgumentException], e)
    assert(e.getMessage.contains("k·dim-BOUNDED model frames"), e.getMessage)
  }
}
