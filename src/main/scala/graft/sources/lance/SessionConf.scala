package graft.sources.lance

import graft.functions.Lru
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The session's Hadoop conf for executor-side Lance IO (object-store
  * credentials, fs settings — a bare `new Configuration()` on an executor
  * sees only defaults).
  *
  * Shipped as ONE broadcast per distinct conf, not inside each closure: a
  * session conf is ~1.1k entries (~110 KB serialized), which inside every
  * reader/writer factory would dominate each task's binary and its
  * deserialization time. Memoized per SparkContext by the conf's CONTENT,
  * not identity: callers mutate `sparkContext.hadoopConfiguration`
  * mid-session, and sibling sessions (matview refresh) carry different SQL
  * confs. A broadcast that drops out of the memo is never destroyed:
  * in-flight tasks may still read it, and the ContextCleaner reclaims it
  * once unreferenced.
  */
object SessionConf {
  private val memo =
    new Lru[(SparkContext, java.util.Map[String, String]), Broadcast[SerializableConfiguration]](4)

  def broadcast(spark: SparkSession): Broadcast[SerializableConfiguration] = {
    val conf = spark.sessionState.newHadoopConf()
    val content = new java.util.HashMap[String, String]()
    conf.iterator().forEachRemaining(e => content.put(e.getKey, e.getValue))
    val sc = spark.sparkContext
    memo.getOrLoad((sc, content))(sc.broadcast(new SerializableConfiguration(conf)))
  }
}
