"""The batch_mix query panel, drawn from the engine's registry.

The registry (query -> module, oracle SQL) is dumped by the harness at
build time. A panel is a module-stratified sample: every module gives the
same number of queries, drawn without replacement by a seeded shuffle of
its sorted names.
"""
import random

def stratified(strata, seed, per_stratum):
    """``per_stratum`` names from each stratum (all of a smaller one),
    strata in sorted order, each drawn by a seeded shuffle."""
    rng = random.Random(seed)
    panel = []
    for key in sorted(strata):
        names = sorted(strata[key])
        rng.shuffle(names)
        panel.extend(names[:per_stratum])
    return panel


def modules(registry):
    out = {}
    for name, e in registry.items():
        out.setdefault(e["module"], []).append(name)
    return out


def mix_panel(registry, seed, per_module):
    return stratified(modules(registry), seed, per_module)

