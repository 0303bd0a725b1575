"""Naive-Bayes language-ID model: container, batch scorer, (de)serialization.

Single-process NumPy engine with the exact semantics of saffsd/langid.py's
inference path (``langid/langid.py``):

* ``instance2fv`` (~L230): UTF-8 encode → DFA walk → state-visit counts →
  expand to feature counts via tk_output. Here batched: one padded byte
  matrix per Arrow batch, vectorized masked walk, `np.bincount` over
  (doc, state) pairs, CSR run-expansion — no per-row Python in the hot
  loop beyond the O(max_doc_len) masked-vector steps.
* ``nb_classprobs`` (~L245): pd = fv @ nb_ptc + nb_pc — one matmul for
  the whole batch, computed via a BATCH-SIZE-INDEPENDENT einsum (BLAS
  dgemm picks row-blocking by batch size, which shifts last-ulp bits
  when the same doc is scored in different Arrow batch shapes — fatal
  for a value-hash oracle; see similarity.rowwise_gemm for the original
  finding and tests/test_core_model.py for the property test here).
* ``norm_probs`` (~L115): reference formula 1/np.exp(pd[None,:]-pd[:,None])
  .sum(1) is mathematically softmax(pd); we compute the numerically stable
  equivalent exp(pd-max)/sum(exp(pd-max)) (tested equal to the reference
  formula to 1e-12 in test_core_model.py).
* ``set_languages`` (~L180): restricting classes SLICES nb_ptc/nb_pc so the
  argmax renormalizes over fewer classes (a post-hoc filter would NOT be
  equivalent — SURVEY.md §2.2 P2).

This module is also the TEST ORACLE: the Spark pipeline's Arrow UDF calls
exactly this code per batch, so Spark-vs-oracle equality checks are
meaningful (same float order-of-ops).
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np

from .scanner import DFA

DEFAULT_MODEL_PATH = str(Path(__file__).resolve().parent.parent / "data" / "model.npz")

_MAX_WALK_ROWS = 4096  # bounds the B x maxlen walk matrices (memory)


def dfa_feature_counts(
    nextmove: np.ndarray,
    out_indptr: np.ndarray,
    out_feats: np.ndarray,
    nstates: int,
    nfeats: int,
    texts: list,
    max_bytes: int | None = None,
) -> np.ndarray:
    """Batched DFA walk → (B, nfeats) float64 OVERLAPPING feature-
    occurrence counts. This IS NBModel.batch_fv's kernel (extracted
    verbatim — integer counts, so the move cannot change a bit); it is
    shared with the contamination scanner (operators/contamination.py),
    which runs the same Aho-Corasick machinery over a needle set instead
    of the model's n-gram features."""
    if len(texts) > _MAX_WALK_ROWS:
        return np.vstack(
            [
                dfa_feature_counts(
                    nextmove, out_indptr, out_feats, nstates, nfeats,
                    texts[i : i + _MAX_WALK_ROWS], max_bytes,
                )
                for i in range(0, len(texts), _MAX_WALK_ROWS)
            ]
        )
    docs = [
        (t.encode("utf-8", "surrogatepass") if isinstance(t, str) else t)[
            : max_bytes if max_bytes else None
        ]
        for t in texts
    ]
    B = len(docs)
    if B == 0:
        return np.zeros((0, nfeats), dtype=np.float64)
    lens = np.fromiter((len(d) for d in docs), dtype=np.int64, count=B)
    maxlen = int(lens.max(initial=0))
    if maxlen == 0:
        return np.zeros((B, nfeats), dtype=np.float64)

    # sort docs by length DESC: at walk step t the active set is the
    # contiguous prefix of docs with len > t — vectorized slices
    # instead of boolean gathers (2-3x on mixed-length batches)
    order = np.argsort(-lens, kind="stable")
    lens_s = lens[order]
    mat = np.zeros((B, maxlen), dtype=np.uint8)
    for row, i in enumerate(order):
        d = docs[i]
        if d:
            mat[row, : len(d)] = np.frombuffer(d, dtype=np.uint8)

    nm = nextmove
    states = np.zeros(B, dtype=np.int64)
    seq = np.zeros((B, maxlen), dtype=np.int32)
    # active-count per step: number of sorted docs with len > t
    neg = -lens_s
    for t in range(maxlen):
        k = int(np.searchsorted(neg, -t, side="right"))
        if k == 0:
            break
        st = nm[(states[:k] << 8) + mat[:k, t]]  # int64, no per-step cast
        states[:k] = st
        seq[:k, t] = st

    # (doc, state) visit counts (doc ids in ORIGINAL numbering so fv
    # rows line up with the input order). np.unique(return_counts) over
    # the ~total-bytes pair array replaces bincount+flatnonzero over
    # the B*nstates dense range (r07: the dense array is ~10x the pair
    # count at B=4096; measured ~20% off the warm kernel). Identical
    # bits: unique's ascending output IS flatnonzero's order, and the
    # counts are the same exact integers.
    valid = np.arange(maxlen)[None, :] < lens_s[:, None]
    d_idx = np.broadcast_to(order[:, None], (B, maxlen))[valid]
    s_idx = seq[valid].astype(np.int64)
    pair = d_idx * nstates + s_idx
    nz, cnt_nz = np.unique(pair, return_counts=True)
    if nz.size == 0:
        return np.zeros((B, nfeats), dtype=np.float64)
    c = cnt_nz.astype(np.float64)
    dd = nz // nstates
    ss = nz % nstates

    # CSR run-expansion: visited state -> its output feature indices
    start = out_indptr[ss]
    run = (out_indptr[ss + 1] - start).astype(np.int64)
    keep = run > 0
    if not keep.any():
        return np.zeros((B, nfeats), dtype=np.float64)
    start, run, dd, c = start[keep], run[keep], dd[keep], c[keep]
    total = int(run.sum())
    # offsets within each run: arange(total) - repeat(cumsum_exclusive)
    cum = np.concatenate(([0], np.cumsum(run)[:-1]))
    within = np.arange(total) - np.repeat(cum, run)
    feat_idx = out_feats[np.repeat(start, run) + within]
    # one weighted bincount replaces zeros() + np.add.at (the ufunc.at
    # inner loop was 17% of the warm kernel); counts are exact integers
    # in float64, so summation order cannot change a single bit
    flat = np.repeat(dd, run) * nfeats + feat_idx
    return np.bincount(
        flat, weights=np.repeat(c, run), minlength=B * nfeats
    ).reshape(B, nfeats)


@dataclass
class NBModel:
    nb_ptc: np.ndarray  # float64[nfeats, nclasses] log P(t|c)
    nb_pc: np.ndarray  # float64[nclasses] log prior
    nb_classes: list[str]
    features: list[bytes]
    nextmove: np.ndarray  # int64[nstates*256] in memory (uint32 on the wire/npz — int64 avoids a per-walk-step astype in batch_fv)
    out_indptr: np.ndarray  # int64[nstates+1]
    out_feats: np.ndarray  # int32[nnz]

    @property
    def nb_numfeats(self) -> int:
        return self.nb_ptc.shape[0]

    @property
    def nstates(self) -> int:
        return len(self.out_indptr) - 1

    # ------------------------------------------------------------- io
    def save(self, path: str) -> None:
        # Width-fitted unicode dtypes: a fixed "U8" silently truncates any
        # feature longer than 4 bytes (hex doubles the length) — fatal for
        # models ingested via from_modelstring with longer n-grams.
        feats_hex = [f.hex() for f in self.features]
        cls_w = max((len(c) for c in self.nb_classes), default=1)
        feat_w = max((len(h) for h in feats_hex), default=1)
        np.savez_compressed(
            path,
            nb_ptc=self.nb_ptc,
            nb_pc=self.nb_pc,
            nb_classes=np.array(self.nb_classes, dtype=f"U{cls_w}"),
            features=np.array(feats_hex, dtype=f"U{feat_w}"),
            # narrow on the wire (load() re-widens to int64 for the walk):
            # serializing the in-memory int64 as-is would silently double
            # the artifact's DFA table size (ADVICE r03)
            nextmove=self.nextmove.astype(np.uint32),
            out_indptr=self.out_indptr,
            out_feats=self.out_feats.astype(np.int32),
        )

    @classmethod
    def load(cls, path: str = DEFAULT_MODEL_PATH) -> "NBModel":
        z = np.load(path, allow_pickle=False)
        return cls(
            nb_ptc=z["nb_ptc"],
            nb_pc=z["nb_pc"],
            nb_classes=[str(c) for c in z["nb_classes"]],
            features=[bytes.fromhex(h) for h in z["features"]],
            nextmove=z["nextmove"].astype(np.int64),
            out_indptr=z["out_indptr"].astype(np.int64),
            out_feats=z["out_feats"].astype(np.int64),
        )

    @classmethod
    def from_dfa(
        cls,
        dfa: DFA,
        nb_ptc: np.ndarray,
        nb_pc: np.ndarray,
        classes: list[str],
        features: list[bytes],
    ) -> "NBModel":
        return cls(
            nb_ptc=nb_ptc,
            nb_pc=nb_pc,
            nb_classes=classes,
            features=features,
            nextmove=dfa.nextmove.astype(np.int64),
            out_indptr=dfa.out_indptr,
            out_feats=dfa.out_feats.astype(np.int64),
        )

    # --------------------------------------- reference wire format
    def to_modelstring(self) -> bytes:
        """Serialize in the reference's wire format — langid.py ships its
        model as base64(bz2(pickle((nb_ptc, nb_pc, nb_numfeats,
        nb_classes, tk_nextmove, tk_output)))) (NBtrain.py ~L230 /
        from_modelstring ~L140). tk_output is the dict state ->
        tuple(feature indices) form the reference uses; our CSR arrays
        are rebuilt from it on load."""
        import base64
        import bz2
        import pickle

        tk_output = {
            int(s): tuple(
                int(f) for f in self.out_feats[self.out_indptr[s] : self.out_indptr[s + 1]]
            )
            for s in range(self.nstates)
            if self.out_indptr[s + 1] > self.out_indptr[s]
        }
        tup = (
            self.nb_ptc,
            self.nb_pc,
            int(self.nb_numfeats),
            list(self.nb_classes),
            self.nextmove.astype(np.uint32),
            tk_output,
            [f.hex() for f in self.features],  # extra slot: feature bytes
        )
        return base64.b64encode(bz2.compress(pickle.dumps(tup)))

    @classmethod
    def from_modelstring(cls, string: bytes | str) -> "NBModel":
        """Inverse of to_modelstring (reference from_modelstring ~L140)."""
        import base64
        import bz2
        import pickle

        if isinstance(string, str):
            string = string.encode("ascii")
        tup = pickle.loads(bz2.decompress(base64.b64decode(string)))
        nb_ptc, nb_pc, _numfeats, classes, nextmove, tk_output = tup[:6]
        features = [bytes.fromhex(h) for h in tup[6]] if len(tup) > 6 else []
        nstates = len(nextmove) // 256
        indptr = np.zeros(nstates + 1, dtype=np.int64)
        for s in range(nstates):
            indptr[s + 1] = indptr[s] + len(tk_output.get(s, ()))
        feats = np.empty(int(indptr[-1]), dtype=np.int64)
        pos = 0
        for s in range(nstates):
            for fi in tk_output.get(s, ()):
                feats[pos] = fi
                pos += 1
        return cls(
            nb_ptc=np.asarray(nb_ptc, dtype=np.float64),
            nb_pc=np.asarray(nb_pc, dtype=np.float64),
            nb_classes=list(classes),
            features=features,
            nextmove=np.asarray(nextmove, dtype=np.int64),
            out_indptr=indptr,
            out_feats=feats,
        )

    # ------------------------------------------------ language subset
    def set_languages(self, langs: list[str]) -> "NBModel":
        """Return a model restricted to `langs` (matrix slicing, as the
        reference's set_languages does — renormalizes the argmax)."""
        unknown = [l for l in langs if l not in self.nb_classes]
        if unknown:
            raise ValueError(f"unknown languages: {unknown}")
        mask = [self.nb_classes.index(l) for l in langs]
        return NBModel(
            nb_ptc=self.nb_ptc[:, mask],
            nb_pc=self.nb_pc[mask],
            nb_classes=list(langs),
            features=self.features,
            nextmove=self.nextmove,
            out_indptr=self.out_indptr,
            out_feats=self.out_feats,
        )

    # ------------------------------------------------- featurization
    def instance2fv(self, text: str | bytes) -> np.ndarray:
        """Single-doc count vector — mirrors langid.py instance2fv (~L230)."""
        return self.batch_fv([text])[0]

    def batch_fv(
        self, texts: list[str | bytes], max_bytes: int | None = None
    ) -> np.ndarray:
        """uint32 count matrix (B, nfeats) for a batch of documents."""
        return dfa_feature_counts(
            self.nextmove,
            self.out_indptr,
            self.out_feats,
            self.nstates,
            self.nb_numfeats,
            texts,
            max_bytes=max_bytes,
        )

    # ------------------------------------------------------ scoring
    def nb_classprobs(self, fv: np.ndarray) -> np.ndarray:
        """Log class scores: (B, nclasses) = fv @ nb_ptc + nb_pc.

        Computed as einsum('ij,kj->ik') over a cached contiguous nb_ptc
        transpose instead of `fv @ nb_ptc`: BLAS dgemm selects blocking
        kernels by the row count, so the same document scored in a
        4096-row batch vs a 157-row partition tail differs in the last
        ulp — and a conf value within one ulp of a 6dp rounding boundary
        would flip the driver's golden value-hash depending on partition
        layout (ADVICE r03). The einsum reduces each (doc, class) cell
        over j in a fixed order regardless of batch size (property-
        tested next to the DFA==naive tests); ~3.5x the dgemm cost on an
        (4096 x 1076) @ (1076 x 18) call = +20ms per 4096-doc batch,
        invisible next to the DFA walk."""
        ptc_T = getattr(self, "_ptc_T", None)
        if ptc_T is None:  # instances are immutable in practice (set_languages returns a new model)
            ptc_T = self._ptc_T = np.ascontiguousarray(self.nb_ptc.T)
        return np.einsum("ij,kj->ik", fv, ptc_T, optimize=False) + self.nb_pc

    @staticmethod
    def norm_probs(pd: np.ndarray) -> np.ndarray:
        """Row-wise softmax == reference 1/np.exp(pd[None]-pd[:,None]).sum(1),
        computed stably."""
        m = pd.max(axis=-1, keepdims=True)
        e = np.exp(pd - m)
        return e / e.sum(axis=-1, keepdims=True)

    def classify_batch(
        self, texts: list[str | bytes], max_bytes: int | None = None
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """(langs[str], conf_raw[f8], conf_norm[f8], nbytes[i64]) per doc.

        Empty input → argmax of the prior alone (reference behavior: zero
        count vector still gets pd = nb_pc).
        """
        fv = self.batch_fv(texts, max_bytes=max_bytes)
        pd = self.nb_classprobs(fv)
        idx = pd.argmax(axis=1)
        conf_raw = pd[np.arange(len(idx)), idx]
        conf_norm = self.norm_probs(pd)[np.arange(len(idx)), idx]
        langs = np.array(self.nb_classes, dtype=object)[idx]
        nbytes = np.fromiter(
            (
                len(t.encode("utf-8", "surrogatepass") if isinstance(t, str) else t)
                for t in texts
            ),
            dtype=np.int64,
            count=len(texts),
        )
        return langs, conf_raw, conf_norm, nbytes

    def classify(self, text: str | bytes) -> tuple[str, float]:
        """langid.py ``classify`` (~L500) single-doc API."""
        langs, _raw, norm, _n = self.classify_batch([text])
        return str(langs[0]), float(norm[0])

    def rank(self, text: str | bytes) -> list[tuple[str, float]]:
        """langid.py ``rank`` (~L270): all classes sorted by normalized prob."""
        pd = self.nb_classprobs(self.batch_fv([text]))[0]
        probs = self.norm_probs(pd)
        order = np.argsort(-probs)
        return [(self.nb_classes[i], float(probs[i])) for i in order]
