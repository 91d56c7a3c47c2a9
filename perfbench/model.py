"""Pure-Python reference models the benchmark checks the engine against.

They restate the reference framework's semantics independently of the
engine's code: AnalyzeBatch's line validation, ProcessBatch's first-claim
asset creation, BatchFinalizer's terminal states, and the streaming
finalizer's per-batch transitions.
"""

from __future__ import annotations

import re

MAXIMUM_COMMAS = 2
TASK_RE = re.compile(r"\w{1,100},[\w-]{1,200},[\w-]{1,200}", re.ASCII)
COMMA_REASON = "Task contains too many ',' (comma) characters. Maximum allowed is (2)."
FORM_REASON = "Task has invalid form."


def dup_reason(model: str, serial: str) -> str:
    return f"Asset with model number = '{model}' and serial number = '{serial}' could not be created."


def line_error(line: str) -> str | None:
    """AnalyzeBatch: the validation error of one task line, or None."""
    if line.count(",") > MAXIMUM_COMMAS:
        return COMMA_REASON
    if not TASK_RE.fullmatch(line):
        return FORM_REASON
    return None


class IngestModel:
    """Expected outcome of every upload, processed in batch-id order.

    Invalid lines fail with their validation reason; a valid line creates
    its (model, serial) asset unless the registry or an earlier claim (lower
    batch id, then lower line number) already holds it.
    """

    def __init__(self, registry: set[tuple[str, str]]):
        self.registry = set(registry)
        self.expected: dict[int, dict] = {}

    def add(self, upload: dict) -> dict:
        errors: dict[int, str] = {}
        invalid = 0
        for n, line in enumerate(upload["lines"], start=1):
            reason = line_error(line)
            if reason is not None:
                invalid += 1
                errors[n] = reason
                continue
            model, serial, _asset = line.split(",")
            if (model, serial) in self.registry:
                errors[n] = dup_reason(model, serial)
            else:
                self.registry.add((model, serial))
        size = len(upload["lines"])
        exp = {
            "size": size,
            "invalid": invalid,
            "success": size - len(errors),
            "error": len(errors),
            "state": "SUCCESS" if not errors else "COMPLETE_WITH_ERROR",
            "errors": errors,
            "notify_email": upload["notify_email"],
        }
        self.expected[upload["batch_id"]] = exp
        return exp


def stream_transitions(steps: list[list[tuple]]) -> list[set[tuple]]:
    """Per step, the set of lifecycle rows the streaming finalizer must
    emit: (batch_id, IN_PROCESS, size, 0, 0) when a batch's first outcome
    arrives, and (batch_id, final state, size, successes, errors) when its
    outcomes reach its size."""
    counts: dict[int, list[int]] = {}
    out = []
    for events in steps:
        rows = set()
        for bid, _task, ok, size, _ts in events:
            if bid not in counts:
                counts[bid] = [0, 0]
                rows.add((bid, "IN_PROCESS", size, 0, 0))
            counts[bid][0 if ok else 1] += 1
            n_ok, n_err = counts[bid]
            if n_ok + n_err == size:
                state = "SUCCESS" if n_err == 0 else "COMPLETE_WITH_ERROR"
                rows.add((bid, state, size, n_ok, n_err))
        out.append(rows)
    return out
