"""Single-process reference results and the output checks built on them.

The reference calls the engine's per-document kernels (``extract_one`` and
``run_document``) directly, then applies everything else itself: the
best-of rule, union-find over sameAs edges and N-Triples formatting are
re-implemented here, apart from the engine's own versions of them.
"""

from __future__ import annotations

import re
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Optional, Tuple

from cmc_knowledge_graph_text2ttl_spark.operators.extract import extract_one
from cmc_knowledge_graph_text2ttl_spark.operators.run import doc_vars_for_url
from cmc_knowledge_graph_text2ttl_spark.workflow.interpreter import run_document

OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
PROP = "http://example.org/prop/"
TRIPLE_COLS = ["subj", "pred", "obj_kind", "obj_lexical", "obj_lang", "obj_datatype"]
WINNER_COLS = ["url", "workflow"] + TRIPLE_COLS

# one N-Triples statement: IRI subject and predicate; IRI or literal object
_IRI = r"<[^<>\"{}|^`\\\x00-\x20]+>"
_LIT = r'"(?:[^"\\\n\r]|\\[tbnrf"\'\\])*"(?:@[A-Za-z]+(?:-[A-Za-z0-9]+)*|\^\^' + _IRI + ")?"
NT_LINE = re.compile(rf"^{_IRI} {_IRI} (?:{_IRI}|{_LIT}) \.$")


@dataclass
class Reference:
    """What a correct run must produce for one input."""

    winners: Counter  # (url, workflow, *triple) -> multiplicity
    triples_emitted: int  # all workflows, before best-of
    extract_s: float = 0.0
    run_s: float = 0.0
    docs: int = 0
    kv_facts: Dict[str, Dict[str, str]] = field(default_factory=dict)


def compute(pages, programs, use_extracted: bool = True) -> Reference:
    """Recompute winner triples page by page in this process.

    ``pages`` are generator pages. ``extract_one`` runs over every page's
    raw HTML; the workflows then read its text if ``use_extracted``, else
    the page's pre-extracted text. The two kernel loops are timed
    separately: the single-threaded baseline of the same job.
    """
    t0 = time.perf_counter()
    texts: List[Tuple[str, str]] = []
    for p in pages:
        text, _, err = extract_one(p.html)
        if not use_extracted:
            text = p.text
        if text is not None and not (err and use_extracted):
            texts.append((p.url, text))
    t1 = time.perf_counter()
    winners: Counter = Counter()
    emitted = 0
    for url, text in texts:
        results = []
        for prog in programs:
            res = run_document(text, prog, doc_vars=doc_vars_for_url(url))
            results.append((prog, res))
            emitted += res.no_triples if res.error is None else 0
        best = _best_of(results)
        if best is not None:
            prog, res = results[best]
            for t in res.triples:
                winners[(url, prog.name) + tuple(t)] += 1
    t2 = time.perf_counter()
    return Reference(
        winners=winners,
        triples_emitted=emitted,
        extract_s=t1 - t0,
        run_s=t2 - t1,
        docs=len(texts),
        kv_facts={p.url: p.facts for p in pages if p.family == "kv"},
    )


def _best_of(results) -> Optional[int]:
    """Most triples, then most matches, then longest total match; the
    earliest workflow wins a full tie. Errored runs never win."""
    best, best_key = None, None
    for i, (_, res) in enumerate(results):
        if res.error is not None:
            continue
        key = (res.no_triples, res.no_matches, res.total_match_len)
        if best_key is None or key > best_key:
            best, best_key = i, key
    return best


def canonical(winners: Iterable[tuple]) -> Counter:
    """Winner triples rewritten onto the smallest IRI of their sameAs
    component (union-find over the triples' own sameAs edges); sameAs
    triples dropped, duplicates collapsed."""
    rows = list(winners)
    parent: Dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def is_sameas(r) -> bool:
        return r[3] == OWL_SAMEAS and r[4] == "iri"

    for r in rows:
        if is_sameas(r) and r[2] != r[5]:
            a, b = find(r[2]), find(r[5])
            if a != b:
                parent[max(a, b)] = min(a, b)
    out = set()
    for r in rows:
        if is_sameas(r):
            continue
        url, wf, s, p, kind, lex, lang, dt = r
        s = find(s) if s in parent else s
        if kind == "iri" and lex in parent:
            lex = find(lex)
        out.add((url, wf, s, p, kind, lex, lang, dt))
    return Counter(out)


def nt_line(s, p, kind, lex, lang, dt) -> str:
    if kind == "iri":
        obj = f"<{lex}>"
    else:
        esc = (
            lex.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
        )
        obj = f'"{esc}"' + (f"@{lang}" if lang else f"^^<{dt}>" if dt else "")
    return f"<{s}> <{p}> {obj} ."


# -- checks: each returns a list of problems (empty = correct) ---------------


def check_winners(rows: Iterable[tuple], ref: Reference) -> List[str]:
    got = Counter(tuple(r) for r in rows)
    if got == ref.winners:
        return []
    return [
        f"winner triples differ: {sum((got - ref.winners).values())} unexpected, "
        f"{sum((ref.winners - got).values())} missing"
    ]


def check_kv_facts(rows: Iterable[tuple], ref: Reference) -> List[str]:
    """Record number, material label and lot of every key/value page equal
    the values the generator wrote into it."""
    seen: Dict[str, set] = {}
    for r in rows:
        if r[0] in ref.kv_facts:
            seen.setdefault(r[0], set()).add((r[3], r[5]))
    bad = 0
    for url, facts in ref.kv_facts.items():
        want = {
            (PROP + "recordNumber", facts["record"]),
            (PROP + "label", facts["material"]),
            (PROP + "lot", facts["lot"]),
        }
        bad += not want <= seen.get(url, set())
    return [f"{bad} key/value pages lack their record/material/lot"] if bad else []


def check_canonical(rows: Iterable[tuple], winners: Counter) -> List[str]:
    got = Counter(tuple(r) for r in rows)
    want = canonical(winners.elements())
    if got == want:
        return []
    return [
        f"canonical triples differ: {sum((got - want).values())} unexpected, "
        f"{sum((want - got).values())} missing"
    ]


def check_ntriples(lines: List[str], winners: Counter) -> List[str]:
    want = {nt_line(*r[2:]) for r in canonical(winners.elements())}
    problems = []
    malformed = sum(not NT_LINE.match(x) for x in lines)
    if malformed:
        problems.append(f"{malformed} malformed N-Triples lines")
    if len(lines) != len(want) or set(lines) != want:
        problems.append(
            f"N-Triples output has {len(lines)} lines ({len(set(lines))} distinct), "
            f"expected one per distinct canonical triple ({len(want)})"
        )
    return problems
