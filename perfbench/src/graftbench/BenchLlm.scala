package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.llm.LlmClient

/**
 * The benchmark's deterministic LLM. It answers instantly, so LLM cost
 * shows up as a call count rather than as time:
 *  - planner prompts get the registered plan JSON for the question,
 *    wrapped in prose the planner must strip;
 *  - rating prompts (LlmFilter) score the rated value 5 or 1 by a stable
 *    hash, which the workload reproduces to know the answer;
 *  - answer-synthesis prompts (SummarizeData) report how many document
 *    lines they were given.
 * Calls are counted JVM-wide: executor tasks run in the benchmark's JVM.
 */
final class BenchLlm extends LlmClient {
  override def generate(prompt: String): String = {
    BenchLlm.calls.incrementAndGet()
    if (prompt.startsWith("You translate an analytics question")) {
      val q = prompt.substring(prompt.lastIndexOf("Question: ") + 10).trim
      val plan = BenchLlm.plans.get(q)
      if (plan == null) "I cannot plan that question."
      else s"Sure. Here is the plan:\n$plan\nIt pushes filters to the scan."
    } else if (prompt.contains("Rate 0-5")) {
      val v = prompt.linesIterator.find(_.startsWith("Value: ")).getOrElse("").drop(7)
      if (BenchLlm.relevant(v)) "5" else "1"
    } else if (prompt.startsWith("Answer the question")) {
      val lines = prompt.linesIterator.dropWhile(!_.startsWith("Input 1 (documents):")).drop(1)
      s"${lines.size} documents considered."
    } else ""
  }
}

object BenchLlm {
  val calls = new AtomicLong
  val plans = new ConcurrentHashMap[String, String]()

  def relevant(value: String): Boolean =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(value.trim), 3) == 0
}
