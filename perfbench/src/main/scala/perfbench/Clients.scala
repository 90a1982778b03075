package perfbench

import graft.pipeline.{LLMClient, MockLLM, RetryingLLM}
import org.apache.spark.SparkContext
import org.apache.spark.util.LongAccumulator

/** `MockLLM` that counts every call it answers. */
class CountingMockLLM(calls: LongAccumulator) extends MockLLM {
  override def complete(prompt: String): String = {
    calls.add(1)
    super.complete(prompt)
  }
}

/** The accumulators one benchmark run bills its completions to. */
final class LlmMeters(sc: SparkContext) {
  val calls: LongAccumulator = sc.longAccumulator("llm.calls")
  val promptTokens: LongAccumulator = sc.longAccumulator("llm.prompt_tokens")
  val completionTokens: LongAccumulator = sc.longAccumulator("llm.completion_tokens")

  /** The `() => LLMClient` factory the program takes: the counting mock
    * wrapped in `RetryingLLM`, whose token accumulators do the billing. */
  def client(): () => LLMClient = {
    val (c, p, o) = (calls, promptTokens, completionTokens)
    () => new RetryingLLM(new CountingMockLLM(c), 3, Some(p), Some(o))
  }

  def snapshot(): Map[String, Long] = Map(
    "calls" -> calls.value, "prompt_tokens" -> promptTokens.value,
    "completion_tokens" -> completionTokens.value)
}
