"""Per-row driver replay of the quality chain, kernel by kernel.

``KernelChain`` calls the kernels directly, in the fused chain's order
(length gate, LID, tokenize, Gopher repetition, Gopher quality, C4, FineWeb,
PII scrub of survivors), with the settings of ``QualityPipelineConfig()``.
It serves twice:

* as the correctness oracle for ``code_filter``: its keep/drop decisions and
  scrubbed survivors are compared with what the Spark pipeline produced;
* as the per-kernel profiler of the traced run: it times every kernel call
  and counts the documents that reach each kernel (the survival funnel).

It deliberately does not call ``operators.fused.evaluate_document``: an
independent replay is what makes the comparison a check.  It decides with
the scalar ``NgramBayesLID.predict``, while the fused pass scores LID with
``predict_batch`` once per Arrow batch, so the two also check each other; the
LID time it reports is ``predict_batch`` over the documents that reached LID.
"""

from __future__ import annotations

import hashlib
import time

KERNELS = ("lid", "tokenize", "gopher_repetition", "gopher_quality", "c4", "fineweb", "pii")


class KernelChain:
    def __init__(self):
        from datatrove_spark.kernels import NgramBayesLID, PiiScrubber
        from datatrove_spark.pipeline import QualityPipelineConfig

        self.cfg = QualityPipelineConfig()
        self.lid = NgramBayesLID()
        self.scrubber = PiiScrubber(remove_phones=True) if self.cfg.scrub_pii else None
        self.seconds = dict.fromkeys(KERNELS, 0.0)
        self.docs_in = dict.fromkeys(KERNELS, 0)
        self.lid_inputs: list[str] = []
        self.docs = 0

    def _run(self, kernel: str, fn, *args, **kwargs):
        self.docs_in[kernel] += 1
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        self.seconds[kernel] += time.perf_counter() - t0
        return out

    def decide(self, text: str | None) -> tuple[bool, str | None, str]:
        """(keep, drop_reason, scrubbed text) for one document."""
        from datatrove_spark.kernels import c4_quality, fineweb_quality, gopher_quality, gopher_repetition
        from datatrove_spark.kernels.text import tokenize_words

        cfg = self.cfg
        text = text or ""
        self.docs += 1
        if len(text) < cfg.min_chars:
            return False, "too_short", text
        if len(text) > cfg.max_chars:
            return False, "too_long", text
        self.docs_in["lid"] += 1
        self.lid_inputs.append(text)
        (lang, score), _ = self.lid.predict(text)
        if lang not in cfg.languages or not float(score) > cfg.language_threshold:
            return False, "language_id", text
        words = self._run("tokenize", tokenize_words, text)
        keep, reason = self._run("gopher_repetition", gopher_repetition, text, words=words)
        if not keep:
            return False, reason, text
        keep, reason = self._run("gopher_quality", gopher_quality, text, cfg.gopher_quality, words=words)
        if not keep:
            return False, reason, text
        new_text, keep, reason = self._run("c4", c4_quality, text, cfg.c4)
        if not keep:
            return False, reason, text
        keep, reason = self._run("fineweb", fineweb_quality, new_text, cfg.fineweb)
        if not keep:
            return False, reason, new_text
        if self.scrubber is None:
            return True, None, new_text
        return True, None, self._run("pii", self.scrubber.scrub, new_text)

    def report(self) -> dict[str, float]:
        """Per-kernel µs/doc over the documents that reached the kernel, the
        funnel counts, and the whole chain's kernel µs per document."""
        t0 = time.perf_counter()
        self.lid.predict_batch(self.lid_inputs)
        self.seconds["lid"] = time.perf_counter() - t0
        out: dict[str, float] = {}
        for k in KERNELS:
            n = self.docs_in[k]
            out[f"kernels.{k}.us_per_doc"] = self.seconds[k] * 1e6 / n if n else 0.0
            out[f"kernels.{k}.docs_in"] = n
        out["kernels.chain.us_per_doc"] = sum(self.seconds.values()) * 1e6 / self.docs if self.docs else 0.0
        return out


def sha256_hex(text: str | None) -> str | None:
    return None if text is None else hashlib.sha256(text.encode("utf-8")).hexdigest()


def keep_f1(expected: dict, actual: dict) -> float:
    """F1 of the keep class of ``actual`` against ``expected`` (id → keep),
    over the ids both hold; 1.0 when neither keeps anything."""
    tp = fp = fn = 0
    for doc_id, want in expected.items():
        got = actual[doc_id]
        tp += want and got
        fp += got and not want
        fn += want and not got
    return 1.0 if tp + fp + fn == 0 else 2 * tp / (2 * tp + fp + fn)


def decision_checksum(rows) -> str:
    """Order-independent checksum of (doc id, keep, drop_reason, sha256 of
    the scrubbed text) rows: the sum, mod 2^64, of a hash per row."""
    total = 0
    for doc_id, keep, reason, sha in rows:
        digest = hashlib.sha256(f"{doc_id}\t{bool(keep)}\t{reason}\t{sha}".encode()).digest()
        total = (total + int.from_bytes(digest[:8], "big")) % (1 << 64)
    return f"{total:016x}"
