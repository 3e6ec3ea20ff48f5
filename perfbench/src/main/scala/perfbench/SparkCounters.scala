package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark runtime counters, split by the phase and traced flag that
  * [[Trace]] puts on each job. A job whose call site (its stages' name)
  * is in `Tables.scala` is also counted as a table load: that is how loads
  * inside `SparkEntry.queries` are seen without spans inside the program.
  * Events arrive on Spark's single listener thread; the locks guard
  * [[snapshot]]. */
final class SparkCounters extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, failedTasks = 0L
    var jobWallMs, taskWaitMs, taskRunMs, taskCpuNs, gcMs = 0L
    var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  }

  private val accs = mutable.Map.empty[String, Acc]
  private val jobKey = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val tableJobs = ConcurrentHashMap.newKeySet[Int]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  var rddBlocksStored = 0L
  var rddBytesStored = 0L

  /** Key "<traced>/<phase>", plus "<traced>/tables" for table-load jobs. */
  private def acc(k: String): Acc = synchronized(accs.getOrElseUpdate(k, new Acc))

  def snapshot: Map[String, Acc] = synchronized(accs.toMap)

  private def traced(k: String) = k.takeWhile(_ != '/')

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String, d: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse(d)
    val k = s"${prop("perfbench.traced", "0")}/${prop("perfbench.phase", "other")}"
    jobKey.put(e.jobId, k)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageKey.put(_, k))
    val keys = Seq(k) ++
      (if (e.stageInfos.exists(_.name.contains("Tables.scala"))) {
        tableJobs.add(e.jobId)
        Seq(s"${traced(k)}/tables")
      } else Nil)
    keys.map(acc).foreach(a => synchronized { a.jobs += 1 })
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    Option(jobKey.remove(e.jobId)).foreach { k =>
      val keys = Seq(k) ++ (if (tableJobs.remove(e.jobId)) Seq(s"${traced(k)}/tables") else Nil)
      keys.map(acc).foreach(a => synchronized { a.jobWallMs += e.time - t0 })
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val at: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageSubmitted.put(e.stageInfo.stageId, at)
    val k = stageKey.getOrDefault(e.stageInfo.stageId, "0/other")
    val a = acc(k)
    synchronized { a.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageKey.getOrDefault(e.stageId, "0/other"))
    val info = e.taskInfo
    val submitted = Option(stageSubmitted.get(e.stageId)).map(_.longValue)
      .getOrElse(info.launchTime)
    val m = Option(e.taskMetrics)
    synchronized {
      a.tasks += 1
      if (!info.successful) a.failedTasks += 1
      a.taskWaitMs += math.max(0L, info.launchTime - submitted)
      m.foreach { t =>
        a.taskRunMs += t.executorRunTime
        a.taskCpuNs += t.executorCpuTime
        a.gcMs += t.jvmGCTime
        a.inputBytes += t.inputMetrics.bytesRead
        a.shuffleReadBytes += t.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteBytes += t.shuffleWriteMetrics.bytesWritten
        a.spillBytes += t.memoryBytesSpilled + t.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) synchronized {
      rddBlocksStored += 1
      rddBytesStored += b.memSize + b.diskSize
    }
  }
}
