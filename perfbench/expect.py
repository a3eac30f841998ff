"""Expected answers, computed from the generated source rows, and the
gate that compares the engine's answers with them.

Term statistics come from ``Bm25Oracle`` (the repository's
single-node reference). Its per-doc scoring loop is replayed here over
numpy arrays: the same formula, operation order and sorted-term fold,
so every score is bit-identical to ``Bm25Oracle.score_doc``, but only
docs holding a query term (exactly the docs it scores above zero) are
scored. ``Expected.check_against_oracle`` asserts the identity.
"""

from __future__ import annotations

import hashlib
import sys

import numpy as np
import pandas as pd

from seqr_loading_pipelines_spark.functions.tokenizer import tokenize_py
from seqr_loading_pipelines_spark.oracle.bm25_oracle import Bm25Oracle

KEY = ["repo", "path", "commit"]


class Expected:
    """Oracle over ``docs`` (columns doc_id, repo, path, commit, lang,
    content), with inverted lists for the query vocabulary ``vocab``."""

    def __init__(self, docs: pd.DataFrame, vocab: list[str]):
        self.docs = docs.sort_values("doc_id").reset_index(drop=True)
        self.oracle = Bm25Oracle(self.docs[["doc_id", "content"]])
        wanted = set(vocab)
        lists: dict[str, list[int]] = {t: [] for t in wanted}
        tfs: dict[str, list[int]] = {t: [] for t in wanted}
        for i, counts in enumerate(self.oracle.tf):
            for t in counts.keys() & wanted:
                lists[t].append(i)
                tfs[t].append(counts[t])
        self._rows = {t: np.asarray(v, dtype=np.int64) for t, v in lists.items()}
        self._tf = {t: np.asarray(v, dtype=np.float64) for t, v in tfs.items()}
        self._dl = np.asarray(self.oracle.doc_len, dtype=np.float64)
        self._ids = np.asarray(self.oracle.doc_ids, dtype=np.int64)
        self._memo: dict[tuple, list] = {}

    # manifest invariants of a full build over these docs
    def build_counts(self) -> dict:
        return {
            "n_docs": self.oracle.n_docs,
            "n_terms": len(self.oracle.df),
            "sum_dl": int(sum(self.oracle.doc_len)),
        }

    def _matches(self, text: str) -> tuple[list[str], np.ndarray]:
        terms = tokenize_py(text)
        parts = [self._rows[t] for t in set(terms) if t in self._rows]
        rows = np.unique(np.concatenate(parts)) if parts else np.empty(0, np.int64)
        return terms, rows

    def prepare(self, texts: list[str]) -> None:
        """Compute the answers for ``texts`` now, so that checking them
        inside a timed op costs a dictionary lookup."""
        for text in texts:
            self.topk(text)
            self.facets(text)

    def topk(self, text: str, k: int = 10) -> list[int]:
        """Doc ids in rank order: quantized score desc, doc_id asc."""
        if ("topk", text, k) not in self._memo:
            self._memo[("topk", text, k)] = self._topk(text, k)
        return self._memo[("topk", text, k)]

    def scores(self, text: str) -> tuple[np.ndarray, np.ndarray]:
        """(row, score) of every doc holding a query term; the
        arithmetic of ``Bm25Oracle.score_doc`` term by term."""
        terms, rows = self._matches(text)
        o = self.oracle
        k1, b = o.k1, o.b
        dl = self._dl[rows]
        s = np.zeros(len(rows))
        for t in sorted(set(terms)):
            if t not in self._rows:
                continue
            at = np.searchsorted(rows, self._rows[t])
            tf = self._tf[t]
            s[at] += o.idf(t) * tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * dl[at] / o.avgdl)
            )
        return rows, s

    def _topk(self, text: str, k: int) -> list[int]:
        rows, s = self.scores(text)
        ids = self._ids[rows]
        order = np.lexsort((ids, -np.floor(s * 1e5 + 0.5)))
        return [int(d) for d in ids[order[:k]]]

    def check_against_oracle(self, texts: list[str]) -> None:
        """Raise unless the replayed scores equal ``score_doc`` exactly
        and the top-k equals ``Bm25Oracle.topk`` (small inputs only)."""
        for text in texts:
            rows, s = self.scores(text)
            terms = tokenize_py(text)
            ref = [self.oracle.score_doc(int(i), terms) for i in rows]
            if s.tolist() != ref:
                raise AssertionError(f"scores differ from Bm25Oracle for {text!r}")
            if self.topk(text) != [d for d, _ in self.oracle.topk(text, 10)]:
                raise AssertionError(f"top-k differs from Bm25Oracle for {text!r}")

    def facets(self, text: str, col: str = "lang", top_n: int = 10) -> list:
        """(value, n_docs) over the match set, n_docs desc, value asc."""
        if ("facets", text, col, top_n) not in self._memo:
            self._memo[("facets", text, col, top_n)] = self._facets(text, col, top_n)
        return self._memo[("facets", text, col, top_n)]

    def _facets(self, text: str, col: str, top_n: int) -> list:
        _, rows = self._matches(text)
        counts = self.docs[col].iloc[rows].value_counts()
        pairs = sorted(counts.items(), key=lambda x: (-x[1], x[0]))
        return [(v, int(n)) for v, n in pairs[:top_n]]

    def sha_by_key(self) -> dict[tuple, str]:
        return {
            (r.repo, r.path, r.commit): hashlib.sha256(
                (r.content or "").encode("utf-8"),
            ).hexdigest()
            for r in self.docs.itertuples()
        }


def with_content(doc_keys: pd.DataFrame, sources: list[pd.DataFrame]) -> pd.DataFrame:
    """Engine doc ids (doc_id + key columns) joined to source content."""
    src = pd.concat(sources, ignore_index=True)[KEY + ["lang", "content"]]
    return doc_keys[["doc_id"] + KEY].merge(src, on=KEY, how="inner")


class Gate:
    """Counts ops and wrong answers. With ``corrupt`` set, the first
    check of that kind is fed a wrong result, so the gate must trip (the
    benchmark's self-test uses this): ``"answer"`` alters the first
    answer checked, ``"docs"`` drops a doc from the first doc set."""

    def __init__(self, corrupt: str | None = None):
        self.attempted = 0
        self.failed = 0
        self._corrupt = corrupt

    def check(self, what: str, got, want) -> bool:
        self.attempted += 1
        if self._corrupt == "answer":
            self._corrupt = None
            got = ("corrupted", got)
        if got != want:
            self.failed += 1
            print(f"WRONG {what}: got {str(got)[:300]} want {str(want)[:300]}",
                  file=sys.stderr)
            return False
        return True

    def check_docs(self, what: str, engine: pd.DataFrame, source: pd.DataFrame) -> bool:
        """The engine's doc keys are exactly the source rows' keys."""
        got = sorted(engine[KEY].itertuples(index=False, name=None))
        if self._corrupt == "docs":
            self._corrupt = None
            got = got[1:]  # as if the build had lost a doc
        return self.check(what, got, sorted(source[KEY].itertuples(index=False, name=None)))

    def error(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"FAILED {what}: {exc!r}", file=sys.stderr)
