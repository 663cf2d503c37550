package graft

import graft.streaming.ProcessFn
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** ProcessFn's event-time timer contract, asserted: an element sees the
  * watermark of the batch before its own, and a timer fires in the batch
  * after the watermark reaches its time. */
class ProcessFnSpec extends SparkSpec {
  import spark.implicits._
  import ProcessFnSpec.Ev

  test("elements see the previous batch's watermark; a timer fires once the watermark reaches it") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Ev]
    val ds = mem.toDS().withColumn("ts", timestamp_millis(col("tsMs")))
      .withWatermark("ts", "0 seconds").as[Ev]
    // each element registers a timer at its own time; both callbacks emit
    val fn = new ProcessFn.Fn[String, Ev, String] {
      def processElement(key: String, value: Ev, ctx: ProcessFn.Ctx): Iterator[String] = {
        ctx.registerEventTimeTimer(value.tsMs)
        Iterator(s"elem:$key:${value.tsMs}:wm=${ctx.currentWatermarkMs}")
      }
      override def onTimer(key: String, tsMs: Long, ctx: ProcessFn.Ctx): Iterator[String] =
        Iterator(s"timer:$key:$tsMs:wm=${ctx.currentWatermarkMs}")
    }
    val sink = "process_fn_spec"
    val q = ProcessFn(ds, (e: Ev) => e.user, fn)
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    def drain(): Seq[String] = {
      q.processAllAvailable()
      spark.table(sink).as[String].collect().toSeq
    }
    try {
      mem.addData(Ev("a", 1000, 1), Ev("a", 2000, 2), Ev("a", 3000, 3))
      val first = drain()
      assert(first.sorted === Seq(
        "elem:a:1000:wm=0", "elem:a:2000:wm=0", "elem:a:3000:wm=0",
        "timer:a:1000:wm=3000", "timer:a:2000:wm=3000", "timer:a:3000:wm=3000"))
      mem.addData(Ev("a", 10000, 4))
      val second = drain()
      assert(second.diff(first).sorted === Seq("elem:a:10000:wm=3000", "timer:a:10000:wm=10000"))
      assert(second.size === 8)
    } finally q.stop()
  }
}

object ProcessFnSpec {
  case class Ev(user: String, tsMs: Long, v: Long)
}
