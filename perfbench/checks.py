"""Output checks for one pipeline run, in plain Python over collected rows.

A run passes when:

- it returns exactly one annotations row per input turn;
- every row's ``text`` equals the canonical text of its input turn;
- every denotation's span is a substring of that text equal to its
  ``mention`` (``text[start:end] == mention``);
- every (etype, surface) carries one ``cluster_id`` across the whole run.

``pair_f1`` scores the run's surface clustering against the generator's
ground-truth entity of every surface.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def pair_f1(clusters: dict, truth: dict) -> float:
    """Surface-pair F1 of a predicted clustering against ground truth.

    ``clusters`` maps each surface key to its predicted cluster; ``truth``
    maps surface keys to entities. A surface missing from ``truth`` is its
    own entity. Counted in O(surfaces): a pair is predicted when both
    surfaces share a cluster and true when they share an entity."""
    cells: Counter = Counter()
    pred: Counter = Counter()
    true: Counter = Counter()
    for key, c in clusters.items():
        e = truth.get(key, ("unknown", key))
        cells[(c, e)] += 1
        pred[c] += 1
        true[e] += 1
    tp = sum(_pairs(n) for n in cells.values())
    n_pred = sum(_pairs(n) for n in pred.values())
    n_true = sum(_pairs(n) for n in true.values())
    precision = tp / n_pred if n_pred else 1.0
    recall = tp / n_true if n_true else 1.0
    return 2 * precision * recall / (precision + recall) if precision + recall else 0.0


@dataclass
class RunCheck:
    rows: int = 0
    denotations: int = 0
    clusters: dict = field(default_factory=dict)
    violations: list[str] = field(default_factory=list)  # the first few
    n_violations: int = 0
    f1: float = 0.0  # pair_f1 of ``clusters``, filled in by the caller

    def fail(self, msg: str) -> None:
        self.n_violations += 1
        if len(self.violations) < 5:
            self.violations.append(msg)


def check_annotations(rows: list[dict], expected_text: dict) -> RunCheck:
    """Check the collected ``annotations`` rows of one run.

    ``rows`` hold conv_id, turn_idx, text and denotations (each a dict with
    start, end, mention, etype, cluster_id); ``expected_text`` maps
    (conv_id, turn_idx) to the canonical input text."""
    rc = RunCheck(rows=len(rows))
    if len(rows) != len(expected_text):
        rc.fail(f"rows: {len(rows)} annotations for {len(expected_text)} turns")
    seen = set()
    for r in rows:
        key = (r["conv_id"], r["turn_idx"])
        if key in seen:
            rc.fail(f"duplicate turn {key}")
        seen.add(key)
        text = r["text"]
        if expected_text.get(key) != text:
            rc.fail(f"text of {key} differs from its canonical input")
        for d in r["denotations"] or ():
            rc.denotations += 1
            if text is None or text[d["start"] : d["end"]] != d["mention"]:
                rc.fail(f"span {d['start']}:{d['end']} of {key} is not {d['mention']!r}")
            skey = (d["etype"], d["mention"])
            prev = rc.clusters.setdefault(skey, d["cluster_id"])
            if prev != d["cluster_id"]:
                rc.fail(f"surface {skey} in clusters {prev!r} and {d['cluster_id']!r}")
    return rc
