package org.apache.spark.sql

import org.apache.spark.util.ShutdownHookManager
import org.scalatest.funsuite.AnyFunSuite

class GraftColumnBridgeSpec extends AnyFunSuite {

  test("createTempDir makes a fresh directory registered for deletion at shutdown") {
    val a = GraftColumnBridge.createTempDir("graft-bridge-spec")
    val b = GraftColumnBridge.createTempDir("graft-bridge-spec")
    assert(a.isDirectory && b.isDirectory && a != b)
    assert(a.getName.startsWith("graft-bridge-spec"))
    assert(ShutdownHookManager.hasShutdownDeleteDir(a))
    assert(ShutdownHookManager.hasShutdownDeleteDir(b))
  }
}
