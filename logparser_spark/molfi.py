"""MoLFI: multi-objective (NSGA-II) search for log message formats
(tenth mining strategy).

From-scratch implementation of the published algorithm (Messaoudi,
Panichella, Bianculli, Briand & Sasnauskas, *"A Search-based Approach
for Accurate Identification of Log Message Formats"*, ICPC 2018;
reference analog ``logparser/MoLFI/MoLFI.py``).  Messages group by
token count; a solution holds, per group, a SET of fixed-length
templates (constant tokens + ``<*>``), and NSGA-II evolves the sets
under two conflicting objectives:

* **frequency** — mean per-template weighted support (fraction of the
  group's messages each template matches, averaged over the solution's
  templates): few, high-support templates score high, a bag of verbatim
  messages scores ~1/n;
* **specificity** — mean fraction of constant tokens per template
  (maximize precision; an all-wildcard template is maximally frequent
  and minimally specific — the tension the search resolves).

The paper's **correction** operator runs inside the loop (on every
initial/child solution, as in the published tool): templates matching
nothing and all-wildcard templates are dropped, unmatched messages are
added verbatim, duplicates collapse — so every individual is a valid
covering set and the objectives trade support against specificity over
valid solutions only.

Documented graft choices (paper ambiguities):

* groups evolve **independently** — the paper's chromosome spans all
  groups but both objectives decompose as per-group means and crossover
  only exchanges templates within the same group, so the search
  factorizes; per-group NSGA-II explores the same space.
* the GA evolves over a bounded **deterministic sample** of each
  group's unique texts (highest weight first, ties lexicographic,
  ``sample_cap``); the selected solution is then corrected against the
  FULL group, so coverage of the final template set is exact.  This
  bounds fitness evaluation at high unique-text cardinality, where the
  paper (evaluated on ≤2k-template logs) gives no guidance.
* final selection uses the **maximum-area scalarization**
  (max frequency × specificity over the first front, ties → fewer
  templates → lexicographic) instead of the distance-to-line knee: on
  the degenerate near-linear fronts this corpus produces, every point
  of the line is "the knee" and the distance rule is ill-defined; the
  product picks the same balanced point on curved fronts and is
  deterministic.
* the RNG is an explicitly-seeded ``random.Random`` and every iteration
  order is sorted/canonical, making the whole fit a deterministic pure
  function of (weighted unique-text set, params) — the property the
  distributed == sequential equality and the fixed-seed oracle tests
  rely on.  The paper leaves seeding unspecified (meta-heuristic).
* occurrences are counted by the repo's defined fixed-length assignment
  semantics (most-specific compatible template, ties lexicographic —
  see ``matchers.IPLoMMatcher``).

Batch kernel like IPLoM/AEL/LogMine/LKE/LogSig: the distributed miner
ships weighted unique texts and the single seeded global fit IS the
sequential oracle.  Templates are fixed-length wildcarded token lists,
so assignment reuses the constant-position matcher.
"""

from __future__ import annotations

import random
from collections import defaultdict
from dataclasses import dataclass, field

from logparser_spark.config import WILDCARD
from logparser_spark.drain import Cluster


@dataclass(frozen=True)
class MoLFIParams:
    seed: int = 7
    pop_size: int = 16
    n_generations: int = 24
    p_crossover: float = 0.7
    p_mutation: float = 0.3
    #: GA fitness sample per length group (deterministic: by descending
    #: weight, ties lexicographic); the final solution is corrected
    #: against the full group so coverage stays exact
    sample_cap: int = 32
    #: guard against a masking-miss corpus driving the per-group GA over
    #: an unbounded unique-text set (same rationale as LKE.max_fit_texts)
    max_fit_texts: int = 50_000


@dataclass
class MoLFIModel:
    params: MoLFIParams
    clusters: list[Cluster] = field(default_factory=list)
    membership: dict[str, str] = field(default_factory=dict)


# -- template/solution helpers ----------------------------------------------

Template = tuple[str, ...]


def _matches(tpl: Template, msg: Template) -> bool:
    return all(a == WILDCARD or a == b for a, b in zip(tpl, msg))


def _frequency(sol: list[Template], msgs: list[tuple[Template, int]]) -> float:
    """Mean per-template weighted support."""
    total = sum(w for _, w in msgs)
    if not sol or not total:
        return 0.0
    return sum(
        sum(w for m, w in msgs if _matches(t, m)) / total for t in sol
    ) / len(sol)


def _correct(
    sol: list[Template], msgs: list[tuple[Template, int]]
) -> list[Template]:
    """Paper correction operator, extended with redundancy pruning: drop
    all-wildcard and dead templates, cover unmatched messages verbatim,
    then drop (lowest-support first) any template whose matched messages
    are all matched by the remaining templates — without pruning a
    solution can never shrink below its verbatim seeds and the search
    space collapses to message enumeration.  Result is a minimal-ish
    valid covering set of ``msgs``, deterministically."""
    out = [
        t
        for t in sol
        if any(tok != WILDCARD for tok in t)
        and any(_matches(t, m) for m, _ in msgs)
    ]
    for m, _ in msgs:
        if not any(_matches(t, m) for t in out):
            out.append(m)
    out = _canon(out)
    matched = {t: {i for i, (m, _) in enumerate(msgs) if _matches(t, m)} for t in out}
    for t in sorted(out, key=lambda t: (len(matched[t]), t)):
        if len(out) == 1:
            break
        others: set[int] = set()
        for o in out:
            if o != t:
                others |= matched[o]
        if matched[t] <= others:
            out.remove(t)
    return out


def _specificity(sol: list[Template]) -> float:
    if not sol:
        return 0.0
    return sum(
        sum(1 for tok in t if tok != WILDCARD) / len(t) for t in sol
    ) / len(sol)


def _canon(sol: list[Template]) -> list[Template]:
    return sorted(set(sol))


# -- NSGA-II core (per length group) ----------------------------------------


def _dominates(a: tuple[float, float], b: tuple[float, float]) -> bool:
    return a[0] >= b[0] and a[1] >= b[1] and a != b


def _non_dominated_sort(scores: list[tuple[float, float]]) -> list[list[int]]:
    n = len(scores)
    dominated_by: list[list[int]] = [[] for _ in range(n)]
    n_dominating = [0] * n
    fronts: list[list[int]] = [[]]
    for i in range(n):
        for j in range(n):
            if i == j:
                continue
            if _dominates(scores[i], scores[j]):
                dominated_by[i].append(j)
            elif _dominates(scores[j], scores[i]):
                n_dominating[i] += 1
        if n_dominating[i] == 0:
            fronts[0].append(i)
    k = 0
    while fronts[k]:
        nxt: list[int] = []
        for i in fronts[k]:
            for j in dominated_by[i]:
                n_dominating[j] -= 1
                if n_dominating[j] == 0:
                    nxt.append(j)
        k += 1
        fronts.append(nxt)
    return fronts[:-1]


def _crowding(front: list[int], scores: list[tuple[float, float]]) -> dict[int, float]:
    dist = {i: 0.0 for i in front}
    for obj in (0, 1):
        ordered = sorted(front, key=lambda i: (scores[i][obj], i))
        lo, hi = scores[ordered[0]][obj], scores[ordered[-1]][obj]
        dist[ordered[0]] = dist[ordered[-1]] = float("inf")
        if hi - lo <= 0:
            continue
        for a, b, c in zip(ordered, ordered[1:], ordered[2:]):
            dist[b] += (scores[c][obj] - scores[a][obj]) / (hi - lo)
    return dist


def _merge(a: Template, b: Template) -> Template:
    return tuple(x if x == y else WILDCARD for x, y in zip(a, b))


def _mutate(
    sol: list[Template], msgs: list[Template], rng: random.Random
) -> list[Template]:
    sol = list(sol)
    op = rng.randrange(4)
    if op == 0 and sol:  # flip one position of one template
        ti = rng.randrange(len(sol))
        tpl = list(sol[ti])
        p = rng.randrange(len(tpl))
        if tpl[p] == WILDCARD:
            tpl[p] = rng.choice(msgs)[p]
        else:
            tpl[p] = WILDCARD
        sol[ti] = tuple(tpl)
    elif op == 1:  # add a message as a template
        sol.append(rng.choice(msgs))
    elif op == 2 and len(sol) > 1:  # drop a template
        sol.pop(rng.randrange(len(sol)))
    elif op == 3 and sol:  # merge a template with a message (wildcard
        # the differing positions) — constructs a whole family
        # generalization in ONE event, where position flips need one
        # lucky draw per varying position
        ti = rng.randrange(len(sol))
        sol[ti] = _merge(sol[ti], rng.choice(msgs))
    return _canon(sol)


def _crossover(
    a: list[Template], b: list[Template], rng: random.Random
) -> tuple[list[Template], list[Template]]:
    """Uniform set crossover: each parent template flips side with p=.5."""
    ca, cb = [], []
    for t in _canon(list(a) + list(b)):
        in_a, in_b = t in a, t in b
        if in_a and in_b:
            ca.append(t)
            cb.append(t)
        elif rng.random() < 0.5:
            ca.append(t)
        else:
            cb.append(t)
    return (_canon(ca) or list(a)), (_canon(cb) or list(b))


def _select(
    front: list[int],
    scores: list[tuple[float, float]],
    pop: list[list[Template]],
) -> list[Template]:
    """Balanced pick from the first front: maximum-area scalarization
    (freq × spec), ties → fewer templates → lexicographic smallest (see
    module docstring for why not the distance-to-line knee)."""
    best = min(
        front,
        key=lambda i: (-(scores[i][0] * scores[i][1]), len(pop[i]), pop[i]),
    )
    return pop[best]


def _evolve_group(
    msgs: list[tuple[Template, int]], params: MoLFIParams, rng: random.Random
) -> list[Template]:
    """NSGA-II over one token-count group; returns the selected solution
    corrected against the full group."""
    if len(msgs) == 1:
        return [msgs[0][0]]
    # Deterministic fitness sample. A token-count group can hold several
    # template families; a weight-top-k sample is alphabetically biased
    # at ties and can miss whole families, so take a STRIDE sample over
    # the lexicographically-sorted uniques (families are contiguous
    # alphabetical runs → every family with ≥ n/cap members gets
    # representatives proportional to its size) plus the heaviest texts
    # (so high-weight messages always influence the objectives).
    ordered = sorted(msgs)
    cap = max(params.sample_cap, 2)
    if len(ordered) <= cap:
        sample = ordered
    else:
        # heavy-pick count degrades gracefully for small caps (cap <= 8
        # would otherwise zero/negate the stride denominator)
        n_heavy = min(8, cap // 2)
        stride = len(ordered) / (cap - n_heavy)
        picks = {int(i * stride) for i in range(cap - n_heavy)}
        heavy = sorted(
            range(len(ordered)), key=lambda i: (-ordered[i][1], i)
        )[:n_heavy]
        sample = [ordered[i] for i in sorted(picks | set(heavy))]
    uniq = [m for m, _ in sample]

    def fitness(sol: list[Template]) -> tuple[float, float]:
        return _frequency(sol, sample), _specificity(sol)

    # seed half the population with verbatim messages, half with merged
    # random pairs (instant family-generalization candidates)
    pop = [
        _correct(
            [rng.choice(uniq)]
            if k % 2 == 0
            else [_merge(rng.choice(uniq), rng.choice(uniq))],
            sample,
        )
        for k in range(params.pop_size)
    ]
    for _ in range(params.n_generations):
        scores = [fitness(s) for s in pop]
        fronts = _non_dominated_sort(scores)
        # binary tournament by (front rank, crowding)
        rank = {}
        crowd: dict[int, float] = {}
        for r, fr in enumerate(fronts):
            for i in fr:
                rank[i] = r
            crowd.update(_crowding(fr, scores))

        def pick() -> list[Template]:
            i, j = rng.randrange(len(pop)), rng.randrange(len(pop))
            if (rank[i], -crowd[i]) <= (rank[j], -crowd[j]):
                return pop[i]
            return pop[j]

        children: list[list[Template]] = []
        while len(children) < params.pop_size:
            pa, pb = pick(), pick()
            if rng.random() < params.p_crossover:
                ca, cb = _crossover(pa, pb, rng)
            else:
                ca, cb = list(pa), list(pb)
            if rng.random() < params.p_mutation:
                ca = _mutate(ca, uniq, rng)
            if rng.random() < params.p_mutation:
                cb = _mutate(cb, uniq, rng)
            children.extend([_correct(ca, sample), _correct(cb, sample)])
        # (mu + lambda) elitism
        union = pop + children[: params.pop_size]
        u_scores = [fitness(s) for s in union]
        u_fronts = _non_dominated_sort(u_scores)
        nxt: list[list[Template]] = []
        for fr in u_fronts:
            if len(nxt) + len(fr) <= params.pop_size:
                nxt.extend(union[i] for i in sorted(fr))
            else:
                cd = _crowding(fr, u_scores)
                keep = sorted(fr, key=lambda i: (-cd[i], i))
                nxt.extend(union[i] for i in keep[: params.pop_size - len(nxt)])
                break
        pop = nxt

    scores = [fitness(s) for s in pop]
    front = _non_dominated_sort(scores)[0]
    sol = _select(front, scores, pop)
    # exact coverage of the FULL group (the GA only saw the sample),
    # then a deterministic merge hill-climb over the full group: small
    # families can be entirely absent from the sample, in which case
    # their messages arrive here as verbatim leftovers that only a
    # full-data pass can generalize
    return _correct(_hill_climb_merge(_correct(sol, msgs), msgs), msgs)


def _hill_climb_merge(
    sol: list[Template], msgs: list[tuple[Template, int]]
) -> list[Template]:
    """Greedy deterministic local search on the FULL group: replace any
    same-length template pair by their merge whenever that improves the
    scalarized objective (freq × spec).  Makes the generalize-vs-
    enumerate decision an objective comparison on the full data instead
    of GA sampling luck.  Per-template support is memoized, so cost is
    one O(|msgs|) scan per distinct merge candidate."""
    total = sum(w for _, w in msgs) or 1
    supp: dict[Template, float] = {}

    def support(t: Template) -> float:
        if t not in supp:
            supp[t] = sum(w for m, w in msgs if _matches(t, m)) / total
        return supp[t]

    def spec1(t: Template) -> float:
        return sum(1 for tok in t if tok != WILDCARD) / len(t)

    def product(s: list[Template]) -> float:
        return (sum(support(t) for t in s) / len(s)) * (
            sum(spec1(t) for t in s) / len(s)
        )

    if not 1 < len(sol) <= 200:
        return sol
    cur = product(sol)
    improved = True
    while improved and len(sol) > 1:
        improved = False
        for i in range(len(sol)):
            for j in range(i + 1, len(sol)):
                a, b = sol[i], sol[j]
                if len(a) != len(b):
                    continue
                m = _merge(a, b)
                if all(tok == WILDCARD for tok in m):
                    continue
                cand = _canon([t for k, t in enumerate(sol) if k not in (i, j)] + [m])
                p = product(cand)
                if p > cur + 1e-12:
                    sol, cur, improved = cand, p, True
                    break
            if improved:
                break
    return sol


# -- fit / oracle surface -------------------------------------------------


def molfi_fit(
    weighted_texts: dict[str, int], params: MoLFIParams | None = None
) -> MoLFIModel:
    """Seeded deterministic fit over a weighted unique-text set."""
    params = params or MoLFIParams()
    model = MoLFIModel(params)
    if len(weighted_texts) > params.max_fit_texts:
        raise ValueError(
            f"molfi_fit: {len(weighted_texts):,} unique texts exceed "
            f"max_fit_texts={params.max_fit_texts:,}. Extend masking rex, "
            "mine with sample_one_in, or raise MoLFIParams.max_fit_texts."
        )
    rng = random.Random(params.seed)
    groups: dict[int, list[tuple[Template, int]]] = defaultdict(list)
    for text in sorted(weighted_texts):
        toks = tuple(text.split()) or ("",)
        groups[len(toks)].append((toks, weighted_texts[text]))

    templates: list[Template] = []
    for length in sorted(groups):
        templates.extend(_evolve_group(groups[length], params, rng))

    # occurrences + membership by the defined most-specific rule
    by_len: dict[int, list[Template]] = defaultdict(list)
    for t in sorted(set(templates)):
        by_len[len(t)].append(t)
    counts: dict[Template, int] = defaultdict(int)
    for length in sorted(groups):
        for toks, w in groups[length]:
            cands = [t for t in by_len[length] if _matches(t, toks)]
            best = min(
                cands,
                key=lambda t: (
                    -sum(1 for tok in t if tok != WILDCARD),
                    " ".join(t),
                ),
            )
            counts[best] += w
            model.membership[" ".join(toks)] = " ".join(best)
    model.clusters = [
        Cluster(list(t), counts[t])
        for t in sorted(counts)
    ]
    return model


def molfi_parse_sequential(texts, params: MoLFIParams | None = None):
    """Sequential oracle parse (mask → tokenize → seeded batch fit →
    per-row membership), mirroring ``iplom_parse_sequential``."""
    from logparser_spark.config import DrainParams
    from logparser_spark.drain import compile_rex, event_id_of, mask_text

    patterns = compile_rex(DrainParams().rex)
    masked = [mask_text(t, patterns) for t in texts]
    weights: dict[str, int] = {}
    for m in masked:
        weights[m] = weights.get(m, 0) + 1
    model = molfi_fit(weights, params)
    out = [
        {
            "masked": m,
            "template": model.membership[m],
            "event_id": event_id_of(model.membership[m]),
        }
        for m in masked
    ]
    return out, model.clusters
