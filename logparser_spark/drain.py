"""Sequential Drain template-mining kernel.

A from-scratch implementation of the fixed-depth prefix-tree online log
parser published in He et al., *"Drain: An Online Log Parsing Approach with
Fixed Depth Tree"* (ICWS 2017).  Semantics match the reference toolkit's
parser (reference: ``logparser/Drain/Drain.py`` — ``treeSearch`` ≈L55–88,
``addSeqToPrefixTree`` ≈L90–145, ``seqDist``/``fastMatch`` ≈L147–187,
``getTemplate`` ≈L189–200, ``outputResult`` md5-prefix EventId ≈L202–235,
``get_parameter_list`` ≈L342–352) so the distributed pipeline's outputs are
row-equal with the reference.  The code here is written against the paper's
algorithm description, not copied.

This module is pure Python and deliberately dependency-free: it is both the
test oracle (sequential parse over a pandas frame, in input order) and the
mining kernel that :mod:`logparser_spark.operators.mine` runs inside each
Arrow batch partition.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field
from typing import Iterable

from logparser_spark.config import WILDCARD, DrainParams

_HAS_DIGIT = re.compile(r"\d")


def has_numbers(token: str) -> bool:
    return bool(_HAS_DIGIT.search(token))


def event_id_of(template: str) -> str:
    """Stable 8-hex event id: md5(template)[:8] — reference-compatible
    (``Drain/Drain.py`` ≈L205–210)."""
    return hashlib.md5(template.encode("utf-8")).hexdigest()[0:8]


@dataclass
class Cluster:
    """A mined template: its token skeleton plus (optionally) member count."""

    tokens: list[str]
    count: int = 0

    @property
    def template(self) -> str:
        return " ".join(self.tokens)


@dataclass
class _Node:
    children: dict = field(default_factory=dict)  # token -> _Node at inner layers
    clusters: list = field(default_factory=list)  # leaf layer only


class DrainTree:
    """Fixed-depth prefix tree over token sequences.

    Layer 0: root. Layer 1: keyed by token count. Layers 2..depth-1: keyed
    by the leading tokens (digit-bearing tokens collapse to ``<*>``; a
    ``max_children`` cap forces overflow into the ``<*>`` branch). Leaves
    hold candidate cluster lists searched by similarity.
    """

    def __init__(self, params: DrainParams | None = None):
        self.params = params or DrainParams()
        self.root = _Node()
        self.clusters: list[Cluster] = []
        # inner traversal limit: the reference stores ``depth - 2`` and
        # breaks when the 1-based layer counter reaches it, so default
        # depth=4 descends exactly one token layer before the leaf.
        self._inner = max(self.params.depth - 2, 1)

    # -- search ------------------------------------------------------------

    def resolve_leaf(self, tokens: list[str]) -> _Node | None:
        """Descend to the leaf node whose cluster list would be searched
        for ``tokens`` (None if no path exists)."""
        length_node = self.root.children.get(len(tokens))
        if length_node is None:
            return None
        node = length_node
        depth = 1
        for token in tokens:
            if depth >= self._inner or depth > len(tokens):
                break
            child = node.children.get(token)
            if child is None:
                child = node.children.get(WILDCARD)
            if child is None:
                return None
            node = child
            depth += 1
        return node

    @property
    def prefix_len(self) -> int:
        """Number of leading tokens that determine the leaf (beyond
        token count): the inner layers actually traversed."""
        return max(self._inner - 1, 0)

    def search(self, tokens: list[str]) -> Cluster | None:
        """Descend the tree for ``tokens``; similarity-match at the leaf."""
        node = self.resolve_leaf(tokens)
        if node is None:
            return None
        return self._fast_match(node.clusters, tokens)

    def _seq_dist(self, template: list[str], tokens: list[str]) -> tuple[float, int]:
        """Similarity of a message against a template of equal length:
        fraction of exactly-matching positions; wildcard positions count
        toward ``n_params`` (the tie-breaker), not toward similarity."""
        assert len(template) == len(tokens)
        sim = 0
        n_params = 0
        for t, w in zip(template, tokens):
            if t == WILDCARD:
                n_params += 1
            elif t == w:
                sim += 1
        return sim / len(tokens), n_params

    def _fast_match(self, clusters: list[Cluster], tokens: list[str]) -> Cluster | None:
        best = None
        best_key = (-1.0, -1)
        for c in clusters:
            sim, n_params = self._seq_dist(c.tokens, tokens)
            if sim > best_key[0] or (sim == best_key[0] and n_params > best_key[1]):
                best_key = (sim, n_params)
                best = c
        if best is not None and best_key[0] >= self.params.st:
            return best
        return None

    # -- insert ------------------------------------------------------------

    def insert(self, cluster: Cluster) -> None:
        tokens = cluster.tokens
        length_node = self.root.children.setdefault(len(tokens), _Node())
        node = length_node
        depth = 1
        for token in tokens:
            if depth >= self._inner or depth > len(tokens):
                break
            if token in node.children:
                node = node.children[token]
            elif has_numbers(token):
                node = node.children.setdefault(WILDCARD, _Node())
            elif WILDCARD in node.children:
                if len(node.children) < self.params.max_children:
                    node = node.children.setdefault(token, _Node())
                else:
                    node = node.children[WILDCARD]
            else:
                if len(node.children) + 1 < self.params.max_children:
                    node = node.children.setdefault(token, _Node())
                elif len(node.children) + 1 == self.params.max_children:
                    node = node.children.setdefault(WILDCARD, _Node())
                else:
                    node = node.children[WILDCARD]
            depth += 1
        node.clusters.append(cluster)
        self.clusters.append(cluster)

    # -- online learn ------------------------------------------------------

    @staticmethod
    def merge_template(tokens: list[str], template: list[str]) -> list[str]:
        """Position-wise generalization: mismatching positions become
        wildcards (reference ``getTemplate`` ≈L189–200)."""
        return [t if t == w else WILDCARD for t, w in zip(template, tokens)]

    def add_message(self, tokens: list[str]) -> Cluster:
        """Online insert of one tokenized message; returns its cluster."""
        if not tokens:
            tokens = [""]
        match = self.search(tokens)
        if match is None:
            cluster = Cluster(tokens=list(tokens), count=1)
            self.insert(cluster)
            return cluster
        match.count += 1
        new_template = self.merge_template(tokens, match.tokens)
        if new_template != match.tokens:
            match.tokens = new_template
        return match


# ---------------------------------------------------------------------------
# masking / tokenization / parameter extraction (pure-python forms)
# ---------------------------------------------------------------------------


def compile_rex(rex: Iterable[str]) -> list[re.Pattern]:
    return [re.compile(r) for r in rex]


def mask_text(text: str, patterns: list[re.Pattern]) -> str:
    """P1 preprocess: replace every match of every masking regex with the
    wildcard (reference ``preprocess`` ≈L298–301)."""
    for p in patterns:
        text = p.sub(WILDCARD, text)
    return text


def tokenize(text: str) -> list[str]:
    return text.strip().split()


_ANGLE_SHORT = re.compile(r"<.{1,5}>")
_NON_ALNUM = re.compile(r"([^A-Za-z0-9])")
_ESC_SPACES = re.compile(r"\\ +")


def template_to_param_regex(template: str) -> re.Pattern | None:
    """Compile a template into a parameter-capturing regex, replicating the
    reference's quirks (``get_parameter_list`` ≈L342–352): any short
    ``<...>`` token normalizes to ``<*>`` first; runs of spaces match
    ``\\s+``; each ``<*>`` captures lazily."""
    t = _ANGLE_SHORT.sub(WILDCARD, template)
    if WILDCARD not in t:
        return None
    t = _NON_ALNUM.sub(r"\\\1", t)
    t = _ESC_SPACES.sub(r"\\s+", t)
    t = "^" + t.replace(r"\<\*\>", "(.*?)") + "$"
    return re.compile(t)


def extract_parameters(masked_text: str, template: str) -> list[str]:
    """Extract the parameter list for one message given its template."""
    rx = template_to_param_regex(template)
    if rx is None:
        return []
    m = rx.findall(masked_text)
    if not m:
        return []
    first = m[0]
    if isinstance(first, tuple):
        return [p.strip() for p in first]
    return [p.strip() for p in m]


# ---------------------------------------------------------------------------
# sequential oracle parse (test oracle; also usable on tiny inputs)
# ---------------------------------------------------------------------------


def parse_sequential(
    texts: Iterable[str], params: DrainParams | None = None
) -> tuple[list[dict], list[Cluster]]:
    """Parse messages in order with a single online Drain tree.

    Returns (per-row records, final clusters). Each record has
    ``masked, template, event_id, parameters``. This is the oracle the
    distributed pipeline is tested against (SURVEY §5.2) — identical
    semantics to the reference's sequential ``parse`` loop ≈L254–290.
    """
    params = params or DrainParams()
    patterns = compile_rex(params.rex)
    tree = DrainTree(params)
    rows: list[tuple[str, str, Cluster]] = []
    for text in texts:
        masked = mask_text(text, patterns)
        cluster = tree.add_message(tokenize(masked))
        rows.append((text, masked, cluster))
    out = []
    for text, masked, cluster in rows:
        template = cluster.template
        out.append(
            {
                "masked": masked,
                "template": template,
                "event_id": event_id_of(template),
                # the reference extracts parameters from the *raw* Content
                # (``get_parameter_list`` reads row['Content'])
                "parameters": extract_parameters(text, template),
            }
        )
    return out, tree.clusters
