"""Seeded workload inputs, generated once per seed and kept on disk.

Generation runs before the timed program starts and is not counted in any
metric. The program receives only the parquet table written here. Next to
it lies ``expect.json``: the outputs the program must produce, derived from
the generator's injected violation families and the family-to-rule counts
pinned in ``tests/fixtures.tsv``.
"""

from __future__ import annotations

import json
import shutil
from collections import Counter
from pathlib import Path

# bump when the generated table or the expectations change shape
FORMAT = 2
# generated inputs kept per workload (an image_suite input is ~40 MB)
KEEP = 12

WORKLOADS = {
    # production-like payloads: decode-bound
    "image_suite": {
        "n": 3000,
        "gen": {
            "n_parts": 32, "min_side": 64, "max_side": 96,
            "null_frac": 0.02, "bad_dims_frac": 0.02,
            "corrupt_frac": 0.02, "dup_id_frac": 0.02,
        },
    },
    # small payloads that are never decoded; one hot phash for finish()
    "checkpoint_resume": {
        "n": 2000,
        "gen": {
            "n_parts": 8,
            "hot_phash_frac": 0.10, "bad_id_frac": 0.01,
            "long_caption_frac": 0.01, "bad_tz_frac": 0.01,
            "bad_list_frac": 0.01, "dup_id_frac": 0.01,
        },
    },
}


def family_rules(fixtures_tsv: Path) -> tuple[dict, dict]:
    """Per-family rule counts from the single-family lines of the fixture
    manifest (n=200 there).

    Returns ``(per_row, per_family)``: ``per_row[fam][rule]`` is the number
    of violations each injected row adds to ``rule``; ``per_family`` holds
    set rules (uniqueness), which report one violation per duplicated value
    however many rows share it. Both cover error rules and the warning
    rules the manifest pins to an exact count."""
    n = 200
    per_row: dict[str, dict[str, int]] = {}
    per_family: dict[str, dict[str, int]] = {}
    for line in fixtures_tsv.read_text().splitlines():
        if not line.strip() or line.startswith("#"):
            continue
        cols = line.split("\t")
        gen = json.loads(cols[1])
        if len(gen) != 1:
            continue
        (key, frac), = gen.items()
        if not key.endswith("_frac"):
            continue
        fam = key[: -len("_frac")]
        rows = int(n * frac)
        counts = dict(json.loads(cols[2]))
        if len(cols) > 3:
            counts.update(
                {r: c for r, c in json.loads(cols[3]).items() if isinstance(c, int)}
            )
        for rule, c in counts.items():
            if c % rows == 0:
                per_row.setdefault(fam, {})[rule] = c // rows
            else:
                per_family.setdefault(fam, {})[rule] = c
    return per_row, per_family


def expected_rule_counts(root: Path, n: int, gen: dict) -> dict[str, int]:
    """Violation count per rule id that the generated table must produce."""
    per_row, per_family = family_rules(root / "tests" / "fixtures.tsv")
    out: Counter = Counter()
    for key, frac in gen.items():
        if not key.endswith("_frac") or frac <= 0:
            continue
        fam = key[: -len("_frac")]
        if fam not in per_row and fam not in per_family:
            raise ValueError(f"tests/fixtures.tsv pins no single-family line for {fam!r}")
        rows = int(n * frac)
        for rule, k in per_row.get(fam, {}).items():
            out[rule] += k * rows
        for rule, c in per_family.get(fam, {}).items():
            out[rule] += c
    return dict(out)


def _arrow_schema():
    import pyarrow as pa
    from pyspark.sql import types as T

    from xmlschema_spark.sources.images import IMAGE_SCHEMA

    kinds = {
        T.StringType: pa.string(), T.BinaryType: pa.binary(),
        T.IntegerType: pa.int32(), T.LongType: pa.int64(),
    }
    return pa.schema(
        [pa.field(f.name, kinds[type(f.dataType)], True) for f in IMAGE_SCHEMA.fields]
    )


def _duplicates(values) -> dict:
    counts = Counter(v for v in values if v is not None)
    return {str(k): c for k, c in counts.items() if c > 1}


def ensure(root: Path, work: Path, workload: str, seed: int) -> Path:
    """Directory holding ``table.parquet`` and ``expect.json`` for
    (workload, seed); generated on first use."""
    out = work / "inputs" / f"{workload}-s{seed}-v{FORMAT}"
    if (out / "expect.json").exists():
        out.touch()
        return out
    # bound the disk the kept inputs use: drop the least recently used
    kept = sorted(
        (work / "inputs").glob(f"{workload}-s*"), key=lambda p: p.stat().st_mtime
    ) if (work / "inputs").is_dir() else []
    for old in kept[: max(0, len(kept) - KEEP + 1)]:
        shutil.rmtree(old, ignore_errors=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    from xmlschema_spark.sources.images import generate_images_pdf

    spec = WORKLOADS[workload]
    n, gen = spec["n"], spec["gen"]
    pdf = generate_images_pdf(n, seed=seed, **gen)
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    table = pa.Table.from_pandas(pdf, schema=_arrow_schema(), preserve_index=False)
    pq.write_table(table, tmp / "table.parquet", row_group_size=1024)
    expect = {
        "rows": n,
        "partitions": sorted(pdf["part"].unique().tolist()),
        "rule_counts": expected_rule_counts(root, n, gen),
        "dup_image_id": _duplicates(pdf["image_id"]),
        "dup_phash": _duplicates(int(v) for v in pdf["phash"]),
    }
    (tmp / "expect.json").write_text(json.dumps(expect, sort_keys=True))
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def probe_payloads(inp: Path, n: int = 256) -> list[bytes]:
    """The table's last ``n`` payloads with a declared format: the violation
    families sit at the start of the table, so these rows are clean."""
    import pyarrow.parquet as pq

    t = pq.read_table(inp / "table.parquet", columns=["bytes", "fmt"])
    rows = zip(t.column("bytes").to_pylist(), t.column("fmt").to_pylist())
    return [b for b, fmt in rows if fmt is not None][-n:]
