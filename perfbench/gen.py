"""Seeded input generator for the benchmark: single process, no Spark.

Writes the two inputs the workloads read:

* a raw-HTML ``pages`` table (Parquet, the engine's input schema) with the
  four document families of FIXTURES.md -- key/value batch records, tables
  (~5% of pages, as FIXTURES.md gives), sectioned reports and entity notes
  that mention aliases -- plus exactly 2% malformed rows (undecodable bytes
  or an empty body);
* a pre-extracted-text file set: many small Parquet files of the same
  schema whose ``text`` column is filled and ``html`` is null.

The vocabulary of entity aliases is read from the benchmark's own copy of
``wf_entities.yaml``, so entity notes mention exactly the surface forms the
linking workflow maps onto a canonical name (these emit the sameAs edges).
Nothing here imports the engine: a change to the engine's fixture code
cannot make the measured work cheaper.

Run ``python3 perfbench/gen.py --seed 1 --pages 2000 --out DIR`` to write
both inputs by hand.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import random
from dataclasses import dataclass, field
from typing import Dict, List, Optional

import pyarrow as pa
import pyarrow.parquet as pq
import yaml

HERE = os.path.dirname(os.path.abspath(__file__))
WORKFLOW_DIR = os.path.join(HERE, "workflows")

MALFORMED_SHARE = 0.02
HTML_FILES = 8  # files of the raw-HTML pages table
DOCS_PER_FILE = 50  # pages per pre-extracted text file
MATERIALS = [
    "Aspirin", "Ibuprofen", "Paracetamol", "Caffeine", "Ethanol", "Acetone",
    "Glucose", "Sucrose", "Sodium Chloride", "Citric Acid", "Lactose",
    "Magnesium Stearate",
]
LANGS = ["en"] * 16 + ["de"] * 3 + ["fr"]  # 80/15/5
FAMILIES = ("kv", "table", "section", "entity")
# FIXTURES.md: ~5% of pages carry table markup; it states no split for the
# other three families, so they share the rest evenly
TABLE_SHARE = 0.05
FAMILY_WEIGHTS = [(1 - TABLE_SHARE) / 3, TABLE_SHARE, (1 - TABLE_SHARE) / 3, (1 - TABLE_SHARE) / 3]
EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


@dataclass
class Page:
    url: str
    warc_ts: dt.datetime
    html: bytes
    text: Optional[str]  # the document as extracted XHTML; None if malformed
    lang: str
    family: str
    facts: Dict[str, str] = field(default_factory=dict)


def alias_groups(workflow_dir: str = WORKFLOW_DIR) -> Dict[str, List[str]]:
    """canonical name -> [canonical, alias, ...] from the linking workflow's
    exact mapping pairs (regex pairs are skipped)."""
    with open(os.path.join(workflow_dir, "wf_entities.yaml"), encoding="utf8") as fh:
        ops = yaml.safe_load(fh)
    groups: Dict[str, List[str]] = {}
    for op in ops:
        if isinstance(op, dict) and "mapping" in op:
            for pair in op["pairs"]:
                if "from" in pair:
                    groups.setdefault(pair["to"], [pair["to"]]).append(pair["from"])
    return groups


def _kv(rng: random.Random, i: int, facts: Dict[str, str]) -> str:
    facts.update(
        record=str(i + 1),
        material=rng.choice(MATERIALS),
        lot=f"LOT-{rng.randrange(100000):05d}",
    )
    qty = f"{rng.randrange(10, 90000) / 10:.1f}"
    unit = rng.choice(["mg", "g", "kg"])
    return (
        f"<h1>Batch record {facts['record']}</h1>\n"
        f"<p>Material: {facts['material']}</p>\n"
        f"<p>Amount: {qty} {unit}</p>\n"
        f"<p>Lot: {facts['lot']}</p>\n"
    )


def _table(rng: random.Random, i: int, facts: Dict[str, str]) -> str:
    rows = "".join(
        f"<tr><td>{rng.choice(MATERIALS)}</td>"
        f"<td>{rng.randrange(5000) / 10:.1f}</td><td>mg</td></tr>"
        for _ in range(rng.randint(3, 10))
    )
    head = "<tr><th>Material</th><th>Amount</th><th>Unit</th></tr>"
    return f"<h1>Composition {i + 1}</h1>\n<table>{head}{rows}</table>\n"


def _section(rng: random.Random, i: int, facts: Dict[str, str]) -> str:
    parts = [f"<h1>Report {i + 1}</h1>"]
    for s in range(rng.randint(2, 5)):
        parts.append(
            f"<h2>Section {s + 1}</h2>\n"
            f"<p>step: weigh {rng.choice(MATERIALS)}</p>\n"
            f"<p>step: dissolve sample</p>\n"
            f"<p>result: {rng.randrange(1000) / 10:.1f}</p>\n"
        )
    return "\n".join(parts) + "\n"


def _entity(rng: random.Random, i: int, facts: Dict[str, str], groups) -> str:
    canon = rng.choice(sorted(groups))
    alias = rng.choice(groups[canon])
    other = rng.choice(MATERIALS)
    return (
        f"<h1>Note {i + 1}</h1>\n"
        f"<p>This study uses {alias} together with {other}.</p>\n"
        f"<p>Material: {alias}</p>\n<p>Material: {other}</p>\n"
    )


def generate(seed: int, n: int, workflow_dir: str = WORKFLOW_DIR) -> List[Page]:
    """n pages, fully determined by ``seed``; exactly round(2% of n) are
    malformed, each of the others draws one of the four families with
    ``FAMILY_WEIGHTS``."""
    rng = random.Random(seed)
    groups = alias_groups(workflow_dir)
    bad = set(rng.sample(range(n), round(MALFORMED_SHARE * n)))
    pages = []
    for i in range(n):
        url = f"https://host{rng.randrange(50)}.example.org/s{seed}/p{i}"
        ts = EPOCH + dt.timedelta(seconds=37 * i)
        lang = rng.choice(LANGS)
        if i in bad:
            body = b"\xff\xfe<html><oops" if i % 2 else b""
            pages.append(Page(url, ts, body, None, lang, "malformed"))
            continue
        family = rng.choices(FAMILIES, weights=FAMILY_WEIGHTS)[0]
        facts: Dict[str, str] = {}
        if family == "entity":
            doc = _entity(rng, i, facts, groups)
        else:
            doc = {"kv": _kv, "table": _table, "section": _section}[family](rng, i, facts)
        text = f"<html><head><title>doc {i}</title></head><body>{doc}</body></html>"
        html = (text + "trailing-garbage-after-root").encode("utf-8")
        pages.append(Page(url, ts, html, text, lang, family, facts))
    return pages


def _table_of(pages: List[Page], pretext: bool) -> pa.Table:
    return pa.table(
        {
            "url": [p.url for p in pages],
            "warc_ts": [p.warc_ts for p in pages],
            "html": [None if pretext else p.html for p in pages],
            "text": [p.text if pretext else None for p in pages],
            "lang": [p.lang for p in pages],
        },
        schema=SCHEMA,
    )


def write_pages(pages: List[Page], out_dir: str, n_files: int) -> None:
    """Raw-HTML pages table as ``n_files`` Parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(pages) // n_files)
    for k in range(n_files):
        chunk = pages[k * step:(k + 1) * step]
        pq.write_table(_table_of(chunk, False), os.path.join(out_dir, f"part-{k:05d}.parquet"))


def write_pretext(pages: List[Page], out_dir: str, docs_per_file: int) -> List[Page]:
    """Pre-extracted text files of ``docs_per_file`` well-formed pages each;
    returns the pages written (malformed pages have no text to ship)."""
    good = [p for p in pages if p.text is not None]
    os.makedirs(out_dir, exist_ok=True)
    for k in range(0, len(good), docs_per_file):
        pq.write_table(
            _table_of(good[k:k + docs_per_file], True),
            os.path.join(out_dir, f"part-{k // docs_per_file:05d}.parquet"),
        )
    return good


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pages", type=int, default=2000)
    ap.add_argument("--out", required=True, help="writes OUT/pages and OUT/pretext")
    args = ap.parse_args()
    pages = generate(args.seed, args.pages)
    write_pages(pages, os.path.join(args.out, "pages"), HTML_FILES)
    write_pretext(pages, os.path.join(args.out, "pretext"), DOCS_PER_FILE)


if __name__ == "__main__":
    main()
