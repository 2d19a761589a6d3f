from linkgraph.plans.iterate import IterationStats, iterate

__all__ = ["IterationStats", "iterate"]
