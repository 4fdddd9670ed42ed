package graft

/** graft's native Catalyst expressions: the hot per-row work of the
  * operators (MinHash and SimHash signatures, n-gram hashes, word
  * windows, term hits, Jaccard, cosine, LSH signatures, centroid
  * assignment and the rolling hash).
  *
  * One rule holds for every expression here: its arithmetic lives once,
  * in a Scala kernel on its companion (or helper) object. `eval` or
  * `nullSafeEval` calls that kernel, and `doGenCode` emits one static
  * call to the same kernel, so the interpreted and the generated path
  * cannot drift apart.
  *
  * A kernel must not share a name with an `Expression` member (`eval`
  * above all). scalac emits no static forwarder for a companion method
  * whose name the case class inherits, so Janino resolves the generated
  * call to the instance method and fails to compile it, and Spark then
  * runs the whole projection interpreted without a word. CodegenOnlySpec
  * runs every kernel in a session where that fallback is an error.
  */
package object functions
