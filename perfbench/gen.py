"""Seeded input generators for the ER pipeline benchmark.

Nothing here starts Spark: inputs are written as parquet with pyarrow, so
generating them never warms the JVM that is timed later. Each workload
returns the tables ``resolve_entities`` takes plus a ``truth`` table
mapping every (etype, surface) to the entity it names.

- ``corpus_wide``: ``datagen_spark.scale_corpus`` itself, many turns over a
  small vocabulary. It is handed a recording stand-in for its session
  (``_Recorder``), so the program's own recipe builds the tables in plain
  Python. The truth comes from ``datagen.make_entities`` rebuilt with the
  same seed, as ``scale_corpus`` draws it.
- ``vocab_wide``: a wide vocabulary built in linear time. Entity stems are
  Reed-Solomon codewords over a 13-syllable alphabet (6 syllables, 3 of
  them information), so any two stems differ in at least 4 syllable
  positions and no quadratic similarity check is needed. Each entity has
  case, hyphen and typo variants; 1 in 7 has no dictionary entry. The
  turns cycle through every surface, so few turns cover the vocabulary.

Generated tables are cached per (workload, sizes, seed, generator source)
under the caller's cache directory.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

ETYPES = ("gene", "disease", "drug", "species", "mutation")
SYLLABLES = ("ra", "zo", "mi", "ta", "lek", "vor", "din", "ax", "bru", "cel", "fi", "gor", "han")
RS_Q = 13  # syllable alphabet size (prime, so arithmetic mod 13 is a field)
RS_K = 3  # information syllables: 13**3 = 2197 stems per entity type
RS_POINTS = (1, 2, 3, 4, 5, 6)  # evaluation points: codeword length 6, distance 4

# The sources whose change invalidates cached inputs.
SOURCES = ("perfbench/gen.py", "bern_spark/datagen.py", "bern_spark/datagen_spark.py")


@dataclass(frozen=True)
class Workload:
    n_convs: int
    per_type: int


# Sizes: a pipeline run costs a near-fixed ~13 s of Spark jobs on 4 cores
# whatever the input, so inputs stay small enough that one benchmark process
# (JVM start, a discarded first run, one timed run) takes about a minute.
# corpus_wide: ~25k turns, ~300 surfaces; vocab_wide: ~1.3k turns, ~2.2k
# surfaces, each mentioned about once.
WORKLOADS = {
    "corpus_wide": Workload(n_convs=5000, per_type=20),
    "vocab_wide": Workload(n_convs=260, per_type=140),
}


# -- corpus_wide: scale_corpus without a session -----------------------------


class _Recorder:
    """The part of ``SparkSession`` that ``scale_corpus`` uses, returning
    pyarrow tables instead of DataFrames."""

    def range(self, start: int, end: int, numPartitions: int | None = None):  # noqa: N803
        return _Range(start, end)

    def createDataFrame(self, rows, schema):  # noqa: N802
        if isinstance(schema, list):
            return pa.Table.from_pylist([dict(zip(schema, r)) for r in rows])
        from pyspark.sql.pandas.types import to_arrow_schema

        names = schema.names
        return pa.Table.from_pylist([dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema))


@dataclass
class _Range:
    start: int
    end: int

    def mapInPandas(self, fn, schema):  # noqa: N802
        """All ids in one batch: ``scale_corpus`` output does not depend
        on partitioning."""
        import pandas as pd
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow = to_arrow_schema(schema)
        batches = fn(iter([pd.DataFrame({"id": range(self.start, self.end)})]))
        return pa.concat_tables(pa.Table.from_pandas(b, schema=arrow, preserve_index=False) for b in batches)


def corpus_wide(seed: int, w: Workload) -> dict[str, pa.Table]:
    from bern_spark.datagen import make_entities
    from bern_spark.datagen_spark import scale_corpus

    transcripts, lexicon, dicts = scale_corpus(_Recorder(), w.n_convs, per_type=w.per_type, seed=seed)
    truth = {}
    for e in make_entities(random.Random(seed), w.per_type):
        for s in e.surfaces:
            truth.setdefault((e.etype, s), e.entity_id)
    return {"transcripts": transcripts, "lexicon": lexicon, "truth": _truth_table(truth), **dicts}


# -- vocab_wide ----------------------------------------------------------------


def rs_stem(msg: int, perm: list[int]) -> str:
    """Syllable string of the Reed-Solomon codeword for message ``msg``
    (0 <= msg < 13**3), with the syllable alphabet permuted by ``perm``."""
    coef = [(msg // RS_Q**i) % RS_Q for i in range(RS_K)]
    out = []
    for x in RS_POINTS:
        v = sum(c * x**i for i, c in enumerate(coef)) % RS_Q
        out.append(SYLLABLES[perm[v]])
    return "".join(out)


def _typo(rng: random.Random, s: str) -> str:
    """One letter substituted at an interior position (never a space or
    hyphen, never the same letter)."""
    idx = [i for i in range(1, len(s) - 1) if s[i].isalpha()]
    i = rng.choice(idx)
    pool = "abcdefghijklmnopqrstuvwxyz"
    c = rng.choice([ch for ch in pool if ch != s[i].lower()])
    if s[i].isupper():
        c = c.upper()
    return s[:i] + c + s[i + 1 :]


def vocab_entities(rng: random.Random, per_type: int) -> list[tuple[str, str, str | None, list[str], list[str]]]:
    """(entity_id, etype, oid, surfaces, dict_names) for the wide vocabulary.

    Linear in ``per_type``: stems are distinct codewords, so only exact
    surface collisions (a typo landing on another surface) need a check,
    done with a set."""
    if per_type > RS_Q**RS_K:
        raise ValueError(f"per_type must be <= {RS_Q**RS_K}")
    perm = list(range(RS_Q))
    rng.shuffle(perm)
    taken: set[str] = set()
    out = []
    for etype in ("gene", "disease", "drug", "species"):
        for i, msg in enumerate(rng.sample(range(RS_Q**RS_K), per_type)):
            stem = rs_stem(msg, perm)
            if etype == "gene":
                base = stem.upper()
            elif etype == "drug":
                base = stem + rng.choice(("ol", "ine", "mab"))
            elif etype == "disease":
                base = stem + " " + rng.choice(("syndrome", "disease", "disorder"))
            else:
                base = stem.capitalize() + " " + rng.choice(("major", "minor", "vulgaris"))
            case = base.capitalize() if base == base.lower() else base.lower()
            hyphen = base.replace(" ", "-") if " " in base else base[:3] + "-" + base[3:]
            surfaces = [base, case, hyphen]
            typo = _typo(rng, base)
            while typo in taken or typo in surfaces:
                typo = _typo(rng, base)
            surfaces.append(typo)
            taken.update(surfaces)
            eid = f"{etype[:2]}v{i:05d}"
            if i % 7 == 3:
                oid, dict_names = None, []
            elif etype == "species":
                oid, dict_names = str((9000 + i) * 100 + rng.randrange(100)), [base]
            else:
                oid, dict_names = f"{etype.upper()[:4]}:{1000 + i}", [base, hyphen]
            out.append((eid, etype, oid, surfaces, dict_names))
    return out


_DICT_SCHEMA = pa.schema([("oid", pa.string()), ("name", pa.string())])
_META_SCHEMA = pa.schema([("oid", pa.string()), ("ext_ids", pa.list_(pa.string()))])


def vocab_wide(seed: int, w: Workload) -> dict[str, pa.Table]:
    """2-8 turns per conversation, each 2-6 filler words then 1-3 mentions
    taken in turn from a shuffled cycle over every surface, each mention
    followed by 1-3 filler words."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from bern_spark.datagen import _FILLER
    from bern_spark.datagen_spark import _SCHEMA as TRANSCRIPT_SCHEMA

    rng = random.Random(seed)
    ents = vocab_entities(rng, w.per_type)
    truth = {(etype, s): eid for eid, etype, _, surfs, _ in ents for s in surfs}
    cycle = list(truth)
    rng.shuffle(cycle)
    nxt = 0
    cols: dict[str, list] = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    for ci in range(w.n_convs):
        for ti in range(2 + rng.randrange(7)):
            words = [rng.choice(_FILLER) for _ in range(2 + rng.randrange(5))]
            for _ in range(1 + rng.randrange(3)):
                words.append(cycle[nxt % len(cycle)][1])
                nxt += 1
                words.extend(rng.choice(_FILLER) for _ in range(1 + rng.randrange(3)))
            cols["conv_id"].append(f"c{ci:08d}")
            cols["turn_idx"].append(ti)
            cols["role"].append(("user", "assistant", "tool")[ti % 3])
            cols["text"].append(" ".join(words))
            cols["tool"].append(rng.choice((None, "search", "lookup", "calc")))
            cols["ts"].append((1_700_000_000 + ci * 60 + ti) * 1_000_000)
    schema = to_arrow_schema(TRANSCRIPT_SCHEMA)
    cols["ts"] = pa.array(cols["ts"], schema.field("ts").type)
    tables = {
        "transcripts": pa.table(cols, schema=schema),
        "lexicon": pa.table(
            {"etype": [e for e, _ in truth], "surface": [s for _, s in truth], "weight": [0.8] * len(truth)}
        ),
        "truth": _truth_table(truth),
    }
    for t in ETYPES:
        rows = [(oid, n) for _, etype, oid, _, names in ents if etype == t and oid is not None for n in names]
        rows = rows or [("_", "_")]  # as scale_corpus: no dictionary is empty
        tables[f"dict_{t}"] = pa.table({"oid": [o for o, _ in rows], "name": [n for _, n in rows]}, schema=_DICT_SCHEMA)
    for k in ("dict_gene_oldbest", "dict_gene_freq"):
        tables[k] = _DICT_SCHEMA.empty_table()
    for k in ("meta_gene", "meta_disease", "meta_drug"):
        tables[k] = _META_SCHEMA.empty_table()
    return tables


def _truth_table(truth: dict[tuple[str, str], str]) -> pa.Table:
    return pa.table(
        {"etype": [e for e, _ in truth], "surface": [s for _, s in truth], "entity": list(truth.values())}
    )


GENERATORS = {"corpus_wide": corpus_wide, "vocab_wide": vocab_wide}


def build(workload: str, seed: int) -> dict[str, pa.Table]:
    """Every input table of one workload plus ``truth``; deterministic in
    (workload, seed)."""
    return GENERATORS[workload](seed, WORKLOADS[workload])


def source_digest() -> str:
    h = hashlib.sha256()
    for rel in SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def cached(workload: str, seed: int, cache_dir: str) -> str:
    """Directory holding ``<table>.parquet`` for (workload, sizes, seed),
    built on first use and keyed by the generators' source, so an edited
    generator never reuses stale inputs. Published by an atomic rename, so
    a killed build leaves no partial cache entry."""
    w = WORKLOADS[workload]
    final = os.path.join(cache_dir, f"{workload}-{w.n_convs}x{w.per_type}-{seed}-{source_digest()}")
    if os.path.exists(os.path.join(final, "meta.json")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = build(workload, seed)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "meta.json"), "w", encoding="utf-8") as f:
        json.dump({"turns": tables["transcripts"].num_rows}, f)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final
