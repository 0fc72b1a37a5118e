package org.apache.spark

import org.apache.spark.util.RpcUtils

import scala.concurrent.Future
import scala.util.Try

/** Whether the driver has an RPC endpoint registered under a name, and
  * asking it as a task would: the RPC environment is private to this
  * package.
  */
object Endpoints {
  def registered(sc: SparkContext, name: String): Boolean =
    Try(sc.env.rpcEnv.setupEndpointRef(sc.env.rpcEnv.address, name)).isSuccess

  def ask(sc: SparkContext, name: String, message: Any): Future[Any] =
    sc.env.rpcEnv.setupEndpointRef(sc.env.rpcEnv.address, name).ask[Any](message, RpcUtils.INFINITE_TIMEOUT)
}
