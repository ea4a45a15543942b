from .distance import l2_expr, cosine_expr, dot_expr

__all__ = ["l2_expr", "cosine_expr", "dot_expr"]
