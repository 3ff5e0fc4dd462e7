package graft.util

/** Thrown by the DESIGNED size gates — the media band-bucket gate
  * ([[graft.operators.Multimodal]]'s `phashGate`) and the exact
  * all-pairs gate ([[graft.operators.Embeddings.cosineNearDupPairs]]) —
  * when a corpus exceeds the kernel's documented bound: a refusal with
  * guidance, not a failure. [[graft.Measure]] classifies refusals by this
  * TYPE (walking the cause chain); the previous message-substring match
  * ("raise maxBandBucket") would also have classified a genuine
  * correctness bug whose wrapped message happened to embed the guidance
  * text as a designed refusal, keeping a broken artifact "official"
  * (r14 advice). Extends IllegalStateException, which preserves
  * catch-compatibility for the MEDIA gate only (it previously threw
  * IllegalStateException); `cosineNearDupPairs`' gate was previously a
  * `require` (IllegalArgumentException), so external code catching
  * IllegalArgumentException around that gate must switch to catching
  * GateRefusal (or IllegalStateException) — a deliberate type change,
  * noted in that operator's scaladoc (r15 advice). */
class GateRefusal(message: String) extends IllegalStateException(message)
