package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** JVM heap and GC readings. */
object HeapWatch {
  /** Heap in use after a full collection, in MB: what the run retains. */
  def retainedMb(): Double = {
    // the first collection lets Spark's cleaner release what only weak
    // references held (unpersisted blocks, shuffles); the second frees it
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** GC time of every collector since the JVM started, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
}
