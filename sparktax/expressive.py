"""Expressive taxonomy extraction: class-*expression* trees over a KG
(reference ExpressiveExtractor, libs/expressive/extractor.py).

The reference processes one axiom at a time; here a whole **frontier wave**
runs as one Spark job sequence (SURVEY §3.2):

per wave (all W frontier axioms at once):
  1. extension + seeded sample per axiom, tagged by ``task_id`` (set
     semantics = joins, sparktax.axioms), submitted as concurrent
     driver-thread jobs (``_sample_tasks``);
  2. candidate-atom mining = three joins (O15/O16) + frequency prefilter
     (O24) over ALL tasks in one pass;
  3. ONE ``applyInPandas`` over ``task_id``: HAC on the sample's
     type-vectors + label_tree walk + beam-search induction
     (sparktax.induction.LocalInducer), all local numpy;
  4. driver registers child expressions (parent ⊓ expr), adds remainder
     axioms for unlabeled mass, enqueues the next frontier.

Adaptive threshold schedule and halting mirror the reference
(libs/expressive/params.py BASE_PARAMS; extractor.py:79-99).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import time as _time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparktax.axioms import Axiom, Remainder, Top, parse_axiom
from sparktax.cluster.hac import hac_children
from sparktax.graph.kg import KnowledgeGraph
from sparktax.induction import LocalInducer, atom_matrix, frequent_atoms, mine_atoms

_LABEL_OUT = (
    "task_id long, child_key string, cov double, spe double, sco double, "
    "n_members long, complete boolean"
)


@dataclass
class ExpressiveParams:
    """Mirrors reference BASE_PARAMS (libs/expressive/params.py:7-74)."""

    size: int = 500  # sample size per axiom
    seed: int = 42
    threshold_initial: float = 0.9
    threshold_min: float = 0.6
    threshold_step: float = 0.05
    threshold_expressive: float = 0.5  # below this: named classes only
    atom_threshold: float = 0.1  # candidate frequency prefilter
    max_depth: int = 4  # label_tree recursion depth
    min_size: int = 30  # min cluster size to label
    max_axioms: int = 2  # beam search expression length
    min_gain: float = 0.08
    keep_n: int = 8
    score: str = "harmonic"
    max_waves: int = 10
    # frontier axioms per wave; None → auto-size to the session's
    # parallelism (max(8, defaultParallelism // 2) — the single-box probe
    # measured ~16 useful kernel lanes on 32 cores, and on a cluster the
    # kernel stage has exactly wave_size single-threaded tasks, so the
    # lever is wave_size ∝ executors). The resolved value is pinned into
    # the checkpoint state: a resume on different hardware keeps the
    # original width, preserving bit-identical wave composition.
    wave_size: int | None = None
    max_nodes: int = 200
    linkage: str = "ward"
    metric: str = "euclidean"
    # "auto": heavy-hitter pre-pass thresholded at the shuffle-partition
    # target (skew.auto_hot_keys); int pins the count; None opts out.
    salt_hot_min: int | str | None = "auto"
    salt_buckets: int = 16

    @classmethod
    def from_json(cls, path_or_dict) -> "ExpressiveParams":
        """Load the reference's nested params JSON
        (libs/expressive/default.json via libs/utils/params.py) into this
        flat dataclass. Unmapped reference knobs (record/display/extra —
        notebook bookkeeping) are ignored; unknown TOP-LEVEL keys matching
        a field are applied directly, so a sparktax-native flat JSON loads
        through the same door.
        """
        import json

        d = path_or_dict
        if not isinstance(d, dict):
            with open(d) as f:
                d = json.load(f)
        p = cls()

        def pick(*path, default=None):
            cur = d
            for k in path:
                if not isinstance(cur, dict) or k not in cur:
                    return default
                cur = cur[k]
            return cur

        size = pick("size")
        # reference allows size as int or {"size": ..., "initial": ...}
        p.size = int(size["size"] if isinstance(size, dict) else size) if size else p.size
        if pick("seed") is not None:
            p.seed = int(pick("seed"))
        p.threshold_initial = float(pick("threshold", "initial", default=p.threshold_initial))
        p.threshold_min = float(pick("threshold", "min", default=p.threshold_min))
        p.threshold_step = float(pick("threshold", "step", default=p.threshold_step))
        p.threshold_expressive = float(
            pick("threshold", "expressive", default=p.threshold_expressive)
        )
        p.max_depth = int(pick("max_depth", default=p.max_depth))
        p.max_axioms = int(pick("max_axioms", default=p.max_axioms))
        p.min_gain = float(pick("min_gain", default=p.min_gain))
        p.keep_n = int(pick("others", "n", default=p.keep_n))
        p.min_size = int(pick("halting", "min_size", default=p.min_size))
        p.max_nodes = int(
            pick("halting", "max_clustering_steps", default=p.max_nodes)
        )
        p.linkage = pick("clustering", "linkage", default=p.linkage)
        p.metric = pick("clustering", "affinity", default=p.metric)
        score = pick("metric")
        if isinstance(score, str):
            p.score = score
        # flat sparktax-native keys win last (skip names the reference
        # schema already consumed — its "metric" means our "score")
        consumed = {
            "size", "seed", "threshold", "max_depth", "max_axioms",
            "min_gain", "others", "halting", "clustering", "metric",
            "patterns", "extra", "record", "display",
        }
        for f_ in p.__dataclass_fields__:
            if f_ in d and f_ not in consumed and not isinstance(d[f_], dict):
                if d[f_] is not None:
                    setattr(p, f_, d[f_])
        return p


@dataclass
class _State:
    queue: list[str] = field(default_factory=list)
    taxonomy: list[tuple[str, str]] = field(default_factory=list)  # (child, parent)
    processed: set = field(default_factory=set)
    threshold: float = 0.9
    done: set = field(default_factory=set)  # reference done_classes
    waves: int = 0
    concepts_only: bool = False
    wave_size: int | None = None  # resolved width, pinned across resumes

    def to_json(self) -> dict:
        return {
            "queue": list(self.queue),
            "taxonomy": [list(e) for e in self.taxonomy],
            "processed": sorted(self.processed),
            "threshold": self.threshold,
            "done": sorted(self.done),
            "waves": self.waves,
            "concepts_only": self.concepts_only,
            "wave_size": self.wave_size,
        }

    @classmethod
    def from_json(cls, d: dict) -> "_State":
        return cls(
            queue=list(d["queue"]),
            taxonomy=[tuple(e) for e in d["taxonomy"]],
            processed=set(d["processed"]),
            threshold=float(d["threshold"]),
            done=set(d.get("done", ())),
            waves=int(d.get("waves", 0)),
            concepts_only=bool(d.get("concepts_only", False)),
            wave_size=d.get("wave_size"),
        )


class ExpressiveExtractor:
    def __init__(
        self,
        kg: KnowledgeGraph,
        embeddings: DataFrame,
        params: ExpressiveParams | None = None,
    ):
        """``embeddings``: (entity_id, vector) — typically
        sparktax.typevec.type_vectors(kg)."""
        self.kg = kg
        self.embeddings = embeddings
        self.p = params or ExpressiveParams()
        self.threshold = self.p.threshold_initial
        self.concepts_only = False
        # scale evidence: run() appends one dict per wave (wave, frontier,
        # sample_rows, found, wall_sec, threshold[, atom_rows when
        # .instrument]) — consumed by scripts/e2e_pipeline_scale.py
        self.wave_log: list[dict] = []
        self.instrument = False
        self._last_atom_rows: int | None = None

    # ---------------------------------------------------------- sampling
    def _sample_pairs(
        self, pairs: list[tuple[int, str]]
    ) -> dict[tuple[int, str], list[tuple[int, int]]]:
        """Seeded samples for ``(task_id, axiom_key)`` pairs.

        Each task's sample is a seeded hash-order top-``size``
        (TakeOrderedAndProject: per-partition top-k + driver merge, no
        shuffle, no full sort even over ⊤'s extension). The pairs submit
        as CONCURRENT Spark jobs from driver threads — latency is the
        slowest extension scan, not the sum of 16 of them (the FAIR
        scheduler set by ``get_spark`` shares slots between them). A
        sample depends only on ``(key, tid, seed)``, never on wave number
        or threshold.
        """
        from concurrent.futures import ThreadPoolExecutor

        if not pairs:
            return {}

        def one(pair: tuple[int, str]):
            tid, key = pair
            ax = parse_axiom(key)
            rows = (
                ax.extension(self.kg)
                .orderBy(F.xxhash64(F.col("h"), F.lit(self.p.seed + tid)))
                .limit(self.p.size)
                .select("h")
                .collect()
            )
            return pair, [(tid, r.h) for r in rows]

        with ThreadPoolExecutor(max_workers=min(8, len(pairs))) as exe:
            return dict(exe.map(one, pairs))

    def _sample_tasks(
        self, task_of: dict[int, str]
    ) -> tuple[DataFrame, dict[int, int]]:
        """One (task_id, h) sample DF for a whole frontier, plus each
        task's sample size. The combined sample is ≤ wave_size·size rows
        (8k at defaults), so it lands driver-side and re-enters as a local
        (broadcastable) DataFrame — cheaper than a localCheckpoint."""
        fetched = self._sample_pairs(list(task_of.items()))
        all_rows = [r for pair in sorted(fetched) for r in fetched[pair]]
        sizes = {tid: len(rows) for (tid, _k), rows in fetched.items()}
        df = self.kg.triples.sparkSession.createDataFrame(
            all_rows, "task_id long, h long"
        )
        return df, sizes

    # ---------------------------------------------------------- kernel
    def _label_wave(self, samples: DataFrame) -> pd.DataFrame:
        p = self.p
        sizes = samples.groupBy("task_id").agg(F.count("*").alias("n"))
        # below threshold_expressive the reference restricts the search to
        # named classes (extractor.py:92-96): no existential/individual
        # atoms, single-atom expressions
        concepts_only = self.concepts_only
        atoms = mine_atoms(
            self.kg,
            samples,
            individuals=not concepts_only,
            existential=not concepts_only,
            salt_hot_min=p.salt_hot_min,
            salt_buckets=p.salt_buckets,
        )
        freq = frequent_atoms(atoms, sizes, threshold=p.atom_threshold)
        mat = atom_matrix(atoms, freq)
        if self.instrument:  # extra job; scale probes only
            self._last_atom_rows = mat.count()
        # array_sort: collect_list order is nondeterministic (task arrival),
        # and the kernel's atom-vocabulary order feeds beam-search
        # tie-breaks — unsorted lists made kill/resume runs rarely diverge
        per_ent = mat.groupBy("task_id", "h").agg(
            F.array_sort(F.collect_list("atom")).alias("atoms")
        )
        rows = (
            samples.join(
                self.embeddings.withColumnRenamed("entity_id", "h"), "h", "left"
            )
            .join(per_ent, ["task_id", "h"], "left")
            .select("task_id", "h", "vector", "atoms")
        )
        threshold = self.threshold
        min_size, max_depth = p.min_size, p.max_depth
        max_axioms, min_gain, keep_n, score = (
            1 if concepts_only else p.max_axioms,
            p.min_gain,
            p.keep_n,
            p.score,
        )
        linkage, metric = p.linkage, p.metric

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            task = int(pdf["task_id"].iloc[0])
            pdf = pdf.sort_values("h", kind="mergesort").reset_index(drop=True)
            n = len(pdf)
            out: list[tuple] = []
            if n < 2 * min_size:
                return pd.DataFrame(
                    out,
                    columns=[
                        "task_id",
                        "child_key",
                        "cov",
                        "spe",
                        "sco",
                        "n_members",
                        "complete",
                    ],
                )
            # local atom vocabulary + bool matrix
            vocab: dict[str, int] = {}
            for atoms in pdf["atoms"]:
                if atoms is not None:
                    for a in atoms:
                        vocab.setdefault(a, len(vocab))
            A = np.zeros((n, len(vocab)), dtype=bool)
            for i, atoms in enumerate(pdf["atoms"]):
                if atoms is not None:
                    for a in atoms:
                        A[i, vocab[a]] = True
            keys = list(vocab)
            # embedding matrix (entities without vectors → zero rows)
            dim = 0
            for v in pdf["vector"]:
                if v is not None:
                    dim = len(v)
                    break
            if dim == 0:
                return pd.DataFrame(out, columns=_COLS)
            X = np.zeros((n, dim))
            for i, v in enumerate(pdf["vector"]):
                if v is not None:
                    X[i] = v
            children, _ = hac_children(X, linkage=linkage, metric=metric)
            # members per node
            members: list[np.ndarray] = [np.array([i]) for i in range(n)]
            for a, b in children:
                members.append(np.concatenate([members[a], members[b]]))
            kids = {int(n + k): (int(a), int(b)) for k, (a, b) in enumerate(children)}

            complete = True

            def visit(node: int, depth: int) -> None:
                nonlocal complete
                if node not in kids or depth > max_depth:
                    complete = False
                    return
                a, b = kids[node]
                for child, sibling in ((a, b), (b, a)):
                    rows_c, rows_s = members[child], members[sibling]
                    if len(rows_c) < min_size:
                        complete = False
                        continue
                    sel = np.concatenate([rows_c, rows_s])
                    mask = np.zeros(len(sel), dtype=bool)
                    mask[: len(rows_c)] = True
                    ind = LocalInducer(A[sel], keys, mask, score=score)
                    rec = ind.best(
                        threshold=threshold,
                        max_axioms=max_axioms,
                        min_gain=min_gain,
                        keep_n=keep_n,
                    )
                    if rec is not None:
                        out.append(
                            (
                                task,
                                rec["axiom"],
                                rec["cov"],
                                rec["spe"],
                                rec["sco"],
                                len(rows_c),
                                True,
                            )
                        )
                    else:
                        visit(child, depth + 1)

            root = 2 * n - 2
            visit(root, 0)
            if not complete and out:
                # mark incompleteness on the first row (driver adds remainder)
                out[0] = (*out[0][:6], False)
            return pd.DataFrame(
                out,
                columns=[
                    "task_id",
                    "child_key",
                    "cov",
                    "spe",
                    "sco",
                    "n_members",
                    "complete",
                ],
            )

        # toPandas row order is nondeterministic across runs; the driver
        # loop appends taxonomy edges and queue entries in row order, so
        # pin a deterministic one (task, then key)
        return (
            rows.groupBy("task_id")
            .applyInPandas(kernel, schema=_LABEL_OUT)
            .toPandas()
            .sort_values(["task_id", "child_key"], kind="mergesort")
            .reset_index(drop=True)
        )

    # ---------------------------------------------------------- driver loop
    @staticmethod
    def _base_key(start_key: str) -> str:
        """Newfound axioms attach to a remainder's *base*, not the
        remainder itself (reference extractor.py:324-328)."""
        ax = parse_axiom(start_key)
        return ax.base.key() if isinstance(ax, Remainder) else start_key

    def _children_of(self, st: _State, parent_key: str) -> list[str]:
        return [
            c for c, par in st.taxonomy if par == parent_key and not c.startswith("REM(")
        ]

    def run(self, ckpt=None, state_name: str = "expressive") -> list[tuple[str, str]]:
        """Run (or resume) the frontier-wave loop.

        ``ckpt``: optional :class:`sparktax.ckpt.StageCheckpointer` — the
        full loop state (queue, taxonomy, processed/done sets, threshold,
        wave count) snapshots as JSON after EVERY wave, so a killed run
        resumes mid-extraction from the last completed wave (O68; the
        reference's ``checkpoint()`` is an empty stub, extractor.py:300-312).
        """
        p = self.p
        st: _State | None = None
        if ckpt is not None:
            saved = ckpt.load_state(state_name)
            if saved is not None:
                st = _State.from_json(saved)
        if st is None:
            st = _State(queue=[Top().key()], threshold=p.threshold_initial)
        self.threshold = st.threshold
        self.concepts_only = st.concepts_only
        # resolve the frontier width ONCE and pin it in the state: a
        # resumed run keeps the original width even on different hardware
        # (wave composition feeds sample seeds via task ids)
        if st.wave_size is None:
            st.wave_size = p.wave_size or _auto_wave_size(self.kg.triples.sparkSession)
        while st.queue and st.waves < p.max_waves and len(st.taxonomy) < p.max_nodes:
            frontier = []
            while st.queue and len(frontier) < st.wave_size:
                key = st.queue.pop(0)
                if key in st.processed:
                    continue
                st.processed.add(key)
                frontier.append(key)
            if not frontier:
                break
            _t0 = _time.perf_counter()
            _edges_before = len(st.taxonomy)
            task_of = dict(enumerate(frontier))
            samples, sizes = self._sample_tasks(task_of)
            _sample_sec = round(_time.perf_counter() - _t0, 3)
            labels = self._label_wave(samples)
            st.waves += 1
            wave_stat = {
                "wave": st.waves,
                "frontier": len(frontier),
                "sample_rows": sum(sizes.values()),
                "sample_sec": _sample_sec,
                "wall_sec": round(_time.perf_counter() - _t0, 3),
                "threshold": st.threshold,
            }
            if self.instrument and self._last_atom_rows is not None:
                wave_stat["atom_rows"] = self._last_atom_rows
            # MIN_SIZE stop: too few instances to cluster → search is done
            # for that class (reference end_search_for, extractor.py:226-230)
            for tid, start_key in task_of.items():
                if sizes.get(tid, 0) < 2 * p.min_size:
                    st.done.add(self._base_key(start_key))
            incomplete: set[str] = set()
            found_by_task: dict[int, list[str]] = {}
            for row in labels.itertuples(index=False):
                base_key = self._base_key(task_of[int(row.task_id)])
                parent_ax = parse_axiom(base_key)
                child_ax = parse_axiom(row.child_key)
                full = child_ax if isinstance(parent_ax, Top) else (parent_ax & child_ax)
                fk = full.key()
                if fk == base_key or (fk, base_key) in st.taxonomy:
                    continue
                st.taxonomy.append((fk, base_key))
                st.queue.append(fk)
                found_by_task.setdefault(int(row.task_id), []).append(fk)
                if not row.complete:
                    incomplete.add(base_key)
            # remainder axioms for parents with unlabeled mass — registered
            # as taxonomy children AND enqueued for their own search wave
            # (reference register_axiom, extractor.py:354-359)
            for tid, kids_found in found_by_task.items():
                base_key = self._base_key(task_of[tid])
                if base_key in incomplete:
                    rem = Remainder(
                        parse_axiom(base_key),
                        tuple(parse_axiom(k) for k in sorted(kids_found)),
                    )
                    rk = rem.key()
                    if (rk, base_key) not in st.taxonomy:
                        st.taxonomy.append((rk, base_key))
                        st.queue.append(rk)
            # adaptive threshold: queue exhausted → relax and regenerate the
            # queue from the *remainders* of every extracted-but-not-done
            # class — the unlabeled mass is what gets revisited (reference
            # extractor.py:90-98)
            if not st.queue and st.threshold - p.threshold_step >= p.threshold_min:
                st.threshold = round(st.threshold - p.threshold_step, 10)
                self.threshold = st.threshold
                if st.threshold < p.threshold_expressive:
                    # switch to named classes only (reference :92-96)
                    st.concepts_only = self.concepts_only = True
                extracted = {c for c, _ in st.taxonomy if not c.startswith("REM(")}
                # the root is always an extracted class (reference
                # short_names = {root: root}, extractor.py:173), so a dry
                # first pass re-searches ⊤ at the relaxed threshold
                # instead of terminating with an empty taxonomy
                extracted.add(Top().key())
                st.processed.clear()
                st.queue = [
                    Remainder(
                        parse_axiom(k),
                        tuple(parse_axiom(c) for c in sorted(self._children_of(st, k))),
                    ).key()
                    for k in sorted(extracted - st.done)
                ]
            wave_stat["found"] = len(st.taxonomy) - _edges_before
            wave_stat["wall_sec"] = round(_time.perf_counter() - _t0, 3)
            self.wave_log.append(wave_stat)
            if ckpt is not None:
                ckpt.save_state(state_name, st.to_json())
        return st.taxonomy

    def named_taxonomy(self, edges: list[tuple[str, str]]) -> list[tuple[str, str]]:
        """Translate axiom keys to readable DL names via the KG dims.

        Only the ids actually referenced by the taxonomy (a few hundred at
        most) are collected — the dims themselves may hold 10⁹+ entities
        under hash encoding, so a full ``toPandas()`` would OOM the driver.
        """
        ids_e: set[int] = set()
        ids_r: set[int] = set()
        for key in {k for edge in edges for k in edge}:
            _collect_ids(parse_axiom(key), ids_e, ids_r)
        ents = (
            {
                r.id: r.uri
                for r in self.kg.entities.filter(
                    F.col("id").isin([int(i) for i in ids_e])
                )
                .select("id", "uri")
                .collect()
            }
            if ids_e
            else {}
        )
        rels = (
            {
                r.id: r.uri
                for r in self.kg.relations.filter(
                    F.col("id").isin([int(i) for i in ids_r])
                )
                .select("id", "uri")
                .collect()
            }
            if ids_r
            else {}
        )

        def name(key: str) -> str:
            return _name_ax(parse_axiom(key), ents, rels)

        return [(name(c), name(p)) for c, p in edges]


_COLS = ["task_id", "child_key", "cov", "spe", "sco", "n_members", "complete"]


def _auto_wave_size(spark) -> int:
    """Auto frontier width: half the session's default parallelism,
    floored at 8. The kernel stage runs exactly ``wave_size``
    single-threaded Python tasks, and the single-box probe (BENCH/
    BASELINE.md round-4 addendum) measured ~16 useful kernel lanes on 32
    cores before memory bandwidth saturates — half-parallelism reproduces
    that 16 on this box while scaling the width with executor count on a
    real cluster (the measured throughput lever)."""
    return max(8, spark.sparkContext.defaultParallelism // 2)


def _collect_ids(ax: Axiom, ids_e: set, ids_r: set) -> None:
    """All entity/relation ids referenced by an axiom tree."""
    from sparktax import axioms as AX

    if isinstance(ax, AX.Concept):
        ids_e.add(ax.cls)
    elif isinstance(ax, AX.Existential):
        ids_r.add(ax.rel)
        if ax.tgt is not None:
            ids_e.add(ax.tgt)
        if ax.cls is not None:
            ids_e.add(ax.cls)
    elif isinstance(ax, (AX.And, AX.Or)):
        for c in ax.children:
            _collect_ids(c, ids_e, ids_r)
    elif isinstance(ax, AX.Neg):
        _collect_ids(ax.child, ids_e, ids_r)
    elif isinstance(ax, AX.Remainder):
        _collect_ids(ax.base, ids_e, ids_r)
        for s in ax.subtracted:
            _collect_ids(s, ids_e, ids_r)


def _name_ax(ax: Axiom, ents: dict, rels: dict) -> str:
    from sparktax import axioms as AX

    if isinstance(ax, AX.Top):
        return "⊤"
    if isinstance(ax, AX.Concept):
        return ents.get(ax.cls, str(ax.cls))
    if isinstance(ax, AX.Existential):
        r = rels.get(ax.rel, str(ax.rel))
        if ax.tgt is not None:
            return f"∃{r}.{{{ents.get(ax.tgt, ax.tgt)}}}"
        if ax.cls is not None:
            return f"∃{r}.{ents.get(ax.cls, ax.cls)}"
        return f"∃{r}.⊤"
    if isinstance(ax, AX.And):
        return " ⊓ ".join(_name_ax(c, ents, rels) for c in ax.children)
    if isinstance(ax, AX.Or):
        return "(" + " ⊔ ".join(_name_ax(c, ents, rels) for c in ax.children) + ")"
    if isinstance(ax, AX.Neg):
        return "¬" + _name_ax(ax.child, ents, rels)
    if isinstance(ax, AX.Remainder):
        return "*" + _name_ax(ax.base, ents, rels)
    return ax.key()
