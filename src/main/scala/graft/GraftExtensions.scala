package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point: [[Engine.session]] installs it
  * (`withExtensions`), or `spark.sql.extensions=graft.GraftExtensions`
  * registers the engine's native expressions for SQL use. Function
  * registration also happens lazily via GraftFunctions.register for
  * sessions built without extensions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // Injection runs once per session at build time; the registry-based
    // path in GraftFunctions covers already-built sessions.
    e.injectCheckRule { session =>
      GraftFunctions.register(session)
      _ => ()
    }
  }
}
