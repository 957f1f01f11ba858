package graft.lake

/** A count-bounded, access-ordered LRU of one kind of immutable table
  * artifact (parsed roots, segments, pages, index runs, stats sidecars,
  * bloom segment directories and slices),
  * shared by every table handle in the process and keyed (table path,
  * name). Every instance registers itself, so [[Lru.forget]] drops all
  * of one path's cached artifacts at once.
  */
private[lake] final class Lru[K, V](maxEntries: Int) {

  private val m = new java.util.LinkedHashMap[(String, K), V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[(String, K), V]): Boolean =
      size() > maxEntries
  }

  def get(path: String, k: K): Option[V] = m.synchronized(Option(m.get((path, k))))

  def put(path: String, k: K, v: V): Unit = m.synchronized { m.put((path, k), v); () }

  def getOrElseUpdate(path: String, k: K)(v: => V): V = m.synchronized {
    Option(m.get((path, k))).getOrElse { val x = v; m.put((path, k), x); x }
  }

  private def forgetPath(path: String): Unit =
    m.synchronized { m.keySet.removeIf(_._1 == path); () }

  Lru.registry.add(this)
}

private[lake] object Lru {

  private val registry = new java.util.concurrent.CopyOnWriteArrayList[Lru[_, _]]()

  /** Drop every cached artifact of the table at `path`: a re-created table
    * restarts its versions, and specs stage the "driver restarted" state. */
  def forget(path: String): Unit = registry.forEach(_.forgetPath(path))
}
