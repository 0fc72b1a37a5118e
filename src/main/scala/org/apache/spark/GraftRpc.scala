package org.apache.spark

import org.apache.spark.rpc.{RpcCallContext, RpcEnv, ThreadSafeRpcEndpoint}
import org.apache.spark.util.RpcUtils

import scala.reflect.ClassTag

/** Driver endpoints, and the refs a task uses to reach them, are private to
  * this package. This is the pattern `BarrierTaskContext` follows with
  * `BarrierCoordinator`: a task asks a named endpoint on the driver and
  * waits for the reply.
  *
  * Messages must be made of Scala and JDK types only (tuples, `Long`,
  * `Array[Double]`): an executor JVM deserializes them on Netty threads with
  * the system class loader, which does not see the application jar.
  */
object GraftRpc {

  /** Registers an endpoint named `name` on the driver. It hands `handle`
    * every message asked of it, one at a time, with the reply, which may be
    * called later and from any thread. Returns the function that
    * unregisters the endpoint.
    */
  def serve(sc: SparkContext, name: String)(handle: (Any, Any => Unit) => Unit): () => Unit = {
    val env = sc.env.rpcEnv
    val ref = env.setupEndpoint(name, new ThreadSafeRpcEndpoint {
      override val rpcEnv: RpcEnv = env
      override def receiveAndReply(context: RpcCallContext): PartialFunction[Any, Unit] = {
        case message => handle(message, context.reply)
      }
    })
    () => env.stop(ref)
  }

  /** In a task: the driver endpoint `name`. An ask waits for its reply as
    * long as it takes, not `spark.rpc.askTimeout`, so a reply the driver
    * holds back while other tasks run a slow objective does not time out.
    */
  final class Driver(name: String) {
    private val ref = RpcUtils.makeDriverRef(name, SparkEnv.get.conf, SparkEnv.get.rpcEnv)
    def ask[T: ClassTag](message: Any): T = ref.askSync[T](message, RpcUtils.INFINITE_TIMEOUT)
  }
}
