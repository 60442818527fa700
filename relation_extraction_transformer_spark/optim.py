"""Optimizer zoo + gradient clipping + LR schedules, torch semantics.

NumPy re-implementation of the reference's training machinery
(ref:utils/torch_utils.py:242-289 ``get_optimizer``, :12-93 ``MyAdagrad``;
clipping = ``torch.nn.utils.clip_grad_norm_`` as called in
ref:model/relation_model.py:74).  The epoch-level decay-on-plateau
lives with the epoch loop (operators/train.py).

Every ``step`` mutates ``params`` in place and keeps its state in a plain
dict so a whole optimizer is one picklable object.
"""

from __future__ import annotations

import numpy as np

from .kernel_grad import trainable_keys
from .weights import Params

Grads = dict


def clip_grad_norm(grads: Grads, max_norm: float) -> float:
    """Global-L2 clip, torch.nn.utils.clip_grad_norm_ semantics: scale ALL
    gradients by max_norm / (total_norm + 1e-6) when total_norm > max_norm.
    Returns the pre-clip total norm."""
    total = float(
        np.sqrt(sum(float((g_ ** 2).sum()) for g_ in grads.values()))
    )
    if total > max_norm:
        scale = max_norm / (total + 1e-6)
        for k in grads:
            grads[k] = grads[k] * scale
    return total


class Optimizer:
    """Base: holds per-parameter state keyed like the param dict."""

    def __init__(self, lr: float):
        self.lr = lr
        self.state: dict = {}
        self.step_count = 0

    def set_lr(self, new_lr: float) -> None:  # ref:relation_model.py:107
        self.lr = new_lr

    def step(self, params: Params, grads: Grads) -> None:
        raise NotImplementedError


class SGD(Optimizer):
    """torch.optim.SGD(momentum=0.9, nesterov=True) — ref:torch_utils.py:254."""

    def __init__(self, lr: float, momentum: float = 0.9, nesterov: bool = True):
        super().__init__(lr)
        self.momentum = momentum
        self.nesterov = nesterov

    def step(self, params: Params, grads: Grads) -> None:
        self.step_count += 1
        for k in trainable_keys(params):
            g = grads[k]
            buf = self.state.get(k)
            buf = g.copy() if buf is None else self.momentum * buf + g
            self.state[k] = buf
            d = g + self.momentum * buf if self.nesterov else buf
            params[k] = params[k] - self.lr * d


class MyAdagrad(Optimizer):
    """Adagrad with a nonzero initial accumulator (TF-style), exactly
    ref:utils/torch_utils.py:12-93: sum += g^2 (starting at
    init_accu_value), p -= clr * g / (sqrt(sum) + 1e-10) with
    clr = lr / (1 + (step-1) * lr_decay)."""

    def __init__(self, lr: float, lr_decay: float = 0.0,
                 init_accu_value: float = 0.1, weight_decay: float = 0.0):
        super().__init__(lr)
        self.lr_decay = lr_decay
        self.init_accu_value = init_accu_value
        self.weight_decay = weight_decay

    def step(self, params: Params, grads: Grads) -> None:
        self.step_count += 1
        for k in trainable_keys(params):
            g = grads[k]
            if self.weight_decay:
                g = g + self.weight_decay * params[k]
            acc = self.state.get(k)
            if acc is None:
                acc = np.full_like(params[k], self.init_accu_value)
            acc = acc + g * g
            self.state[k] = acc
            clr = self.lr / (1 + (self.step_count - 1) * self.lr_decay)
            params[k] = params[k] - clr * g / (np.sqrt(acc) + 1e-10)


class Adam(Optimizer):
    """torch.optim.Adam(betas=(0.9, 0.98), eps=1e-9) — ref:torch_utils.py:276."""

    def __init__(self, lr: float, betas: tuple = (0.9, 0.98), eps: float = 1e-9):
        super().__init__(lr)
        self.b1, self.b2 = betas
        self.eps = eps

    def step(self, params: Params, grads: Grads) -> None:
        self.step_count += 1
        t = self.step_count
        for k in trainable_keys(params):
            g = grads[k]
            m, v = self.state.get(k, (0.0, 0.0))
            m = self.b1 * m + (1 - self.b1) * g
            v = self.b2 * v + (1 - self.b2) * g * g
            self.state[k] = (m, v)
            mhat = m / (1 - self.b1 ** t)
            vhat = v / (1 - self.b2 ** t)
            params[k] = params[k] - self.lr * mhat / (np.sqrt(vhat) + self.eps)


class Adamax(Optimizer):
    """torch.optim.Adamax — ref:torch_utils.py:278."""

    def __init__(self, lr: float, betas: tuple = (0.9, 0.999), eps: float = 1e-8):
        super().__init__(lr)
        self.b1, self.b2 = betas
        self.eps = eps

    def step(self, params: Params, grads: Grads) -> None:
        self.step_count += 1
        t = self.step_count
        for k in trainable_keys(params):
            g = grads[k]
            m, u = self.state.get(k, (0.0, 0.0))
            m = self.b1 * m + (1 - self.b1) * g
            u = np.maximum(self.b2 * u, np.abs(g) + self.eps)
            self.state[k] = (m, u)
            params[k] = params[k] - (self.lr / (1 - self.b1 ** t)) * m / u


class NAdam(Optimizer):
    """Keras-style Nesterov Adam, ref:utils/torch_utils.py:96-205.

    Faithful to the reference's math with ONE documented deviation: the
    reference's ``step`` has an indentation bug (``return loss`` inside
    the parameter loop, :205) that silently updates only the first
    parameter tensor per step; this implementation updates all of them
    (the intended algorithm)."""

    def __init__(self, lr: float = 1e-3, betas: tuple = (0.9, 0.999),
                 eps: float = 1e-8, schedule_decay: float = 0.004):
        super().__init__(lr)
        self.b1, self.b2 = betas
        self.eps = eps
        self.schedule_decay = schedule_decay
        self.m_schedule = 1.0

    def step(self, params: Params, grads: Grads) -> None:
        self.step_count += 1
        t = self.step_count
        mc_t = self.b1 * (1.0 - 0.5 * 0.96 ** (t * self.schedule_decay))
        mc_t1 = self.b1 * (1.0 - 0.5 * 0.96 ** ((t + 1) * self.schedule_decay))
        m_schedule_new = self.m_schedule * mc_t
        m_schedule_next = self.m_schedule * mc_t * mc_t1
        self.m_schedule = m_schedule_new
        for k in trainable_keys(params):
            g = grads[k]
            m, v = self.state.get(k, (0.0, 0.0))
            m = self.b1 * m + (1 - self.b1) * g
            v = self.b2 * v + (1 - self.b2) * g * g
            self.state[k] = (m, v)
            g_prime = g / (1.0 - m_schedule_new)
            m_prime = m / (1.0 - m_schedule_next)
            v_prime = v / (1.0 - self.b2 ** t)
            m_bar = (1.0 - mc_t) * g_prime + mc_t1 * m_prime
            params[k] = params[k] - self.lr * m_bar / (np.sqrt(v_prime) + self.eps)


class ASGD(Optimizer):
    """torch.optim.ASGD defaults (lambd=1e-4, alpha=0.75, t0=1e6) —
    ref:torch_utils.py:270.  Keeps the Polyak average in state['ax'];
    with the default t0 the averaged weights only diverge from the live
    weights after 1e6 steps, matching torch."""

    def __init__(self, lr: float, lambd: float = 1e-4, alpha: float = 0.75,
                 t0: float = 1e6):
        super().__init__(lr)
        self.lambd, self.alpha, self.t0 = lambd, alpha, t0

    def step(self, params: Params, grads: Grads) -> None:
        self.step_count += 1
        for k in trainable_keys(params):
            g = grads[k]
            eta, mu, ax = self.state.get(k, (self.lr, 1.0, None))
            # torch order: decay, step, averaging, then eta/mu update
            params[k] = params[k] * (1 - self.lambd * eta)
            params[k] = params[k] - eta * g
            ax = params[k].copy() if (ax is None or mu == 1) else ax + mu * (
                params[k] - ax
            )
            eta = self.lr / (1 + self.lambd * self.lr * self.step_count) ** self.alpha
            mu = 1.0 / max(1.0, self.step_count - self.t0)
            self.state[k] = (eta, mu, ax)


def warmup_cosine(x: float, warmup: float = 0.002) -> float:
    """ref:utils/opt.py:6-8."""
    import math

    if x <= warmup:
        return x / warmup
    return 0.5 * (1 + math.cos(math.pi * x))


def warmup_constant(x: float, warmup: float = 0.002) -> float:
    """ref:utils/opt.py:10-12."""
    return x / warmup if x <= warmup else 1.0


def warmup_linear(x: float, warmup: float = 0.002) -> float:
    """ref:utils/opt.py:14-16."""
    return (x / warmup if x <= warmup else 1.0) * (1 - x)


SCHEDULES = {
    "warmup_cosine": warmup_cosine,
    "warmup_constant": warmup_constant,
    "warmup_linear": warmup_linear,
}


class OpenAIAdam(Optimizer):
    """ref:utils/opt.py:25-107 (huggingface openai-transformer-lm Adam
    with the decoupled-weight-decay fix): per-step scheduled lr,
    step_size = lr_sched * sqrt(bc2)/bc1, decay applied to matrices (and
    vectors when vector_l2) AFTER the adam update.  Reference defaults
    from ref:torch_utils.py:257-271, including ``max_grad_norm=1``: the
    reference clips EACH parameter's gradient to norm 1 inside step()
    (ref:utils/opt.py:82-84, torch ``clip_grad_norm_`` semantics: scale by
    max_norm / (norm + 1e-6) only when that factor < 1) before the moment
    update — train_step's global-norm clip is not equivalent, so it is
    reproduced here per parameter."""

    def __init__(self, lr: float = 6.25e-5, schedule: str = "warmup_linear",
                 warmup: float = 0.002, t_total: int = 3,
                 betas: tuple = (0.9, 0.999), eps: float = 1e-8,
                 l2: float = 0.01, vector_l2: bool = True,
                 max_grad_norm: float = 1.0):
        super().__init__(lr)
        self.schedule = SCHEDULES[schedule]
        self.warmup = warmup
        self.t_total = t_total
        self.b1, self.b2 = betas
        self.eps = eps
        self.l2 = l2
        self.vector_l2 = vector_l2
        self.max_grad_norm = max_grad_norm

    def step(self, params: Params, grads: Grads) -> None:
        self.step_count += 1
        t = self.step_count
        lr_sched = self.lr * self.schedule(t / self.t_total, self.warmup)
        step_size = (
            lr_sched * (1 - self.b2 ** t) ** 0.5 / (1 - self.b1 ** t)
        )
        for k in trainable_keys(params):
            g = grads[k]
            if self.max_grad_norm and self.max_grad_norm > 0:
                coef = self.max_grad_norm / (np.linalg.norm(g) + 1e-6)
                if coef < 1.0:
                    g = g * coef
            m, v = self.state.get(k, (0.0, 0.0))
            m = self.b1 * m + (1 - self.b1) * g
            v = self.b2 * v + (1 - self.b2) * g * g
            self.state[k] = (m, v)
            params[k] = params[k] - step_size * m / (np.sqrt(v) + self.eps)
            if (params[k].ndim > 1 or self.vector_l2) and self.l2 > 0:
                params[k] = params[k] - lr_sched * self.l2 * params[k]


def get_optimizer(name: str, lr: float) -> Optimizer:
    """ref:utils/torch_utils.py:242-289, minus the torch-only exotics."""
    if name == "sgd":
        return SGD(lr, momentum=0.9, nesterov=True)
    if name in ("adagrad", "myadagrad"):
        return MyAdagrad(lr, init_accu_value=0.1)
    if name == "adam":
        return Adam(lr, betas=(0.9, 0.98), eps=1e-9)
    if name == "adamax":
        return Adamax(lr)
    if name == "nadam":
        return NAdam(lr)
    if name == "asgd":
        return ASGD(lr)
    if name == "openai_adam":
        # reference hardcodes these regardless of --lr
        # (ref:torch_utils.py:257-271); t_total=3 is the reference's value
        return OpenAIAdam()
    raise ValueError(f"Unsupported optimizer: {name}")
