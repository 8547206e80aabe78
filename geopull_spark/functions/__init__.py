from .geometry import (  # noqa: F401
    st_area_m2,
    st_bbox,
    st_cell,
    st_k_ring,
)
