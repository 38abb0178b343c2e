package graft.dom

/** The explicit-stack `descendants` iterator that the recursive walks
  * (`Element.foreachDescendant`, `firstDescendant`, `descendantsWhere`)
  * replaced: the order oracle for them and for the selector-based oracles of
  * the single-walk fast paths. */
object WalkOracle {

  /** All descendant elements of `root` in document order, root excluded. */
  def descendants(root: Element): Iterator[Element] = new Iterator[Element] {
    private var stack = new Array[Element](16)
    private var top = 0
    pushChildrenOf(root)
    private def pushChildrenOf(e: Element): Unit = {
      val ch = e.children
      var i = ch.length - 1
      while (i >= 0) {
        ch(i) match {
          case el: Element =>
            if (top == stack.length) stack = java.util.Arrays.copyOf(stack, top * 2)
            stack(top) = el
            top += 1
          case _ =>
        }
        i -= 1
      }
    }
    def hasNext: Boolean = top > 0
    def next(): Element = {
      top -= 1
      val e = stack(top)
      stack(top) = null
      pushChildrenOf(e)
      e
    }
  }

  /** The descendants of `root` whose tag is in `tags`, in document order. */
  def tagged(root: Element, tags: String*): Vector[Element] =
    descendants(root).filter(e => tags.contains(e.tag)).toVector

  def findIn(sel: Selector, root: Element): Vector[Element] = descendants(root).filter(sel.matches).toVector

  def firstIn(sel: Selector, root: Element): Option[Element] = descendants(root).find(sel.matches)
}
