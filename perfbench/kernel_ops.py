"""Operation counts of the inference kernel's forward pass.

Counts follow ``kernel.forward_batch`` for the shipped configuration
(self-attention encoder with diagonal positional attention, eval-mode
BatchNorm, position-aware attention head, classifier), one call per
same-length group of ``B`` candidates of length ``l`` within one Arrow
batch, as ``operators.inference.predict_relations`` calls it:

- a GEMM ``(m, k) @ (k, n)`` plus bias is ``2mkn + mn`` flops;
- an elementwise op or reduction is one flop per element and arithmetic
  operation, a transcendental (exp, tanh) counting as one; softmax is
  five per element (max, subtract, exp, sum, divide);
- bytes moved are the fp32 operands of each op read once and its result
  written once (weights included), with no reuse between ops: the traffic
  of an unfused implementation, not a cache simulation.

The counts are a pure function of the per-batch candidate-length
histogram and the model shape, so they repeat exactly for a seed and
change only when the forward pass, or the grouping of candidates into
calls, does less or different work.
"""

from __future__ import annotations

FP32 = 4


class _Count:
    def __init__(self) -> None:
        self.flops = 0
        self.bytes = 0

    def gemm(self, m: int, k: int, n: int, batch: int = 1, bias: bool = True) -> None:
        self.flops += batch * (2 * m * k * n + (m * n if bias else 0))
        self.bytes += FP32 * batch * (m * k + k * n + m * n + (n if bias else 0))

    def elementwise(self, n: int, flops: int = 1, inputs: int = 1, outputs: int = 1) -> None:
        self.flops += n * flops
        self.bytes += FP32 * n * (inputs + outputs)

    def copy(self, n: int) -> None:
        self.bytes += FP32 * 2 * n


def forward_counts(B: int, l: int, cfg) -> tuple[int, int]:
    """(flops, bytes) of one ``forward_batch`` call on a (B, l) group."""
    d, H, dk = cfg.d_model, cfg.n_head, cfg.d_k
    ffn, A, pe, C = cfg.hidden_self, cfg.attn_dim, cfg.pe_dim, cfg.num_class
    n, tok = B * l, B * l * d
    c = _Count()
    # K1 embedding gathers + concat; K3 object position add; K4 dpa gather
    c.copy(tok)
    c.copy(tok)
    c.elementwise(tok, 1, 2, 1)
    c.copy((2 * l - 1) * d)
    for _layer in range(cfg.num_layers_encoder):
        # K5 Q/K/V projections
        for _ in range(3):
            c.gemm(n, d, d)
        # K6 scores and temper scaling
        c.gemm(l, dk, l, batch=H * B, bias=False)
        c.elementwise(H * B * l * l)
        # K7 diagonal positional attention: projection once per call,
        # scores against it, stripe gather and add
        c.gemm(2 * l - 1, d, d)
        c.gemm(l, dk, 2 * l - 1, batch=H * B, bias=False)
        c.elementwise(H * B * l * (2 * l - 1))
        c.copy(H * B * l * l)
        c.elementwise(H * B * l * l, 1, 2, 1)
        # K9 softmax; K10 weighted values and head merge; K11 output proj
        c.elementwise(H * B * l * l, 5)
        c.gemm(l, l, dk, batch=H * B, bias=False)
        c.copy(tok)
        c.gemm(n, d, d)
        # K12 norm; K13 FFN with leaky ReLU; K14 residual + norm
        c.elementwise(tok, 4)
        c.gemm(n, d, ffn)
        c.elementwise(n * ffn, 2)
        c.gemm(n, ffn, d)
        c.elementwise(tok, 1, 2, 1)
        c.elementwise(tok, 4)
    # K15 max-pool over time
    c.flops += tok
    c.bytes += FP32 * (tok + B * d)
    # K17 position-aware attention: feature gather, U/V/W projections,
    # sum, tanh, score, softmax over time, weighted sum
    c.copy(n * 2 * pe)
    c.gemm(n, d, A)
    c.gemm(B, d, A)
    c.gemm(n, 2 * pe, A)
    c.elementwise(n * A, 2, 3, 1)
    c.elementwise(n * A)
    c.gemm(n, A, 1)
    c.elementwise(n, 5)
    c.flops += 2 * tok
    c.bytes += FP32 * (n + tok + B * d)
    # K18/K19 classifier, softmax, argmax
    c.gemm(B, d, C)
    c.elementwise(B * C, 5)
    c.flops += B * C
    c.bytes += FP32 * B * C
    return c.flops, c.bytes


def histogram_counts(groups, cfg) -> tuple[int, int]:
    """(flops, bytes) over ``(l, B)`` call groups: one ``forward_batch``
    call on ``B`` candidates of length ``l`` each."""
    flops = nbytes = 0
    for l, B in groups:
        f, b = forward_counts(B, l, cfg)
        flops += f
        nbytes += b
    return flops, nbytes
