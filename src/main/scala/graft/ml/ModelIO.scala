package graft.ml

import java.io.{BufferedInputStream, BufferedOutputStream, FileInputStream,
  FileOutputStream, ObjectInputStream, ObjectOutputStream}

import graft.ml.workflow.Transformer

/** Fitted-pipeline persistence (ref: the reference persists fitted
  * pipelines via Java serialization in its example workloads — model
  * save/load between a training job and a serving process).
  *
  * A fitted [[Transformer]] chain here closes over model-sized plain
  * Scala state only — weight/mean/axis arrays, vocab maps, MLlib model
  * wrappers (Params objects, themselves Serializable); literal Columns
  * are rebuilt inside each `apply`, and training frames are released by
  * the AutoCache/withCached fitting scopes before the fitted transformer
  * is returned. One Java-serialization round trip therefore persists the
  * whole chain, and the loaded chain serves both ways: distributed
  * `apply(df)` on a cluster, or per-datum through [[LocalServer]] with
  * zero jobs.
  *
  * `load` deserializes behind an [[java.io.ObjectInputFilter]] allowlist
  * (graft/scala/java.lang/java.util/breeze/org.apache.spark classes only)
  * so a model file can't smuggle a gadget-chain class; model files must
  * still come from a trusted source — the filter narrows the attack
  * surface, it is not a sandbox. */
object ModelIO {

  /** Classes a fitted graft chain legitimately closes over: graft nodes
    * and lambdas, Scala collections/functions, boxed primitives, Breeze
    * structures (and the JTransforms/netlib kernels they ride), and MLlib
    * model/Params objects. Everything else is rejected BEFORE
    * instantiation, with the offending class named on stderr. */
  private val allowedPrefixes = Array(
    "graft.", "scala.", "java.lang.", "java.util.", "java.time.",
    "breeze.", "org.jtransforms.", "com.github.fommil.netlib.",
    "dev.ludovic.netlib.", "org.apache.spark.")
  private def loadFilter(extra: Seq[String]) = new java.io.ObjectInputFilter {
    def checkInput(info: java.io.ObjectInputFilter.FilterInfo)
        : java.io.ObjectInputFilter.Status = {
      var c = info.serialClass()
      if (c == null) return java.io.ObjectInputFilter.Status.UNDECIDED
      while (c.isArray) c = c.getComponentType
      if (c.isPrimitive || extra.exists(c.getName.startsWith(_))
          || allowedPrefixes.exists(c.getName.startsWith(_)))
        java.io.ObjectInputFilter.Status.ALLOWED
      else {
        System.err.println(
          s"[ModelIO] load rejected non-allowlisted class: ${c.getName}")
        java.io.ObjectInputFilter.Status.REJECTED
      }
    }
  }

  def save(t: Transformer, path: String): Unit = {
    val oos = new ObjectOutputStream(new BufferedOutputStream(
      new FileOutputStream(path)))
    try oos.writeObject(t) finally oos.close()
  }

  /** Load a fitted chain. A chain that closes over the CALLER's own
    * classes (an inline lambda in application code — even a non-capturing
    * one ships its defining Class via SerializedLambda) needs those
    * prefixes passed in `extraAllowedPrefixes`; chains built purely from
    * graft library nodes load with the default allowlist. */
  def load(path: String, extraAllowedPrefixes: Seq[String] = Nil): Transformer = {
    val ois = new ObjectInputStream(new BufferedInputStream(
      new FileInputStream(path)))
    ois.setObjectInputFilter(loadFilter(extraAllowedPrefixes))
    try ois.readObject().asInstanceOf[Transformer] finally ois.close()
  }
}
