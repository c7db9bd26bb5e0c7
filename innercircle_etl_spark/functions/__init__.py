"""Column-expression libraries: text analysis, hashing/sketches,
ABI-decode kernels, multimodal plumbing."""
